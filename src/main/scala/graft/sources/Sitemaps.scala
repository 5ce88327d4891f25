package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sitemaps.org XML parsing — the crawl-DISCOVERY side of the frontier
  * (robots.txt points at sitemaps; sitemaps enumerate the URLs worth
  * fetching and when they last changed). Parses both document kinds:
  * `<urlset><url>` leaf sitemaps and `<sitemapindex><sitemap>` index
  * files that point at more sitemaps (`is_index` distinguishes — an
  * index entry goes back on the fetch queue, a leaf entry on the
  * frontier).
  *
  * Real XML parsing via the JDK's StAX reader, HARDENED for hostile
  * input: DTD support and external-entity resolution are OFF (no XXE, no
  * billion-laughs expansion), and a malformed document yields the
  * entries parsed so far instead of failing the task — the same
  * stop-at-last-whole-record stance as [[Warc.parseRecords]].
  */
object Sitemaps {

  /** One sitemap entry: the URL, its `<lastmod>` ("" when absent), and
    * whether it came from an index file (a pointer to another sitemap)
    * rather than a leaf urlset.
    */
  private final case class SitemapEntry(loc: String, lastmod: String, is_index: Boolean)

  private def newFactory(): javax.xml.stream.XMLInputFactory = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    // DTDs off kills XXE and billion-laughs at the root (no entity can be
    // DEFINED); the five built-in entities still replace normally
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    // namespace processing OFF: wild sitemaps routinely use extension
    // prefixes (image:, video:, news:) without declaring them — a
    // namespace-aware parser ABORTS the whole document on the first
    // unbound prefix, dropping every entry. With it off, prefixes are
    // just name text ([[local]] strips them for matching).
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_NAMESPACE_AWARE, false)
    f
  }

  /** The element's local name whatever the namespace mode returned:
    * text after the last ':' (with namespace processing off the reader
    * reports the raw qname, prefix included).
    */
  private def local(name: String): String = {
    val i = name.lastIndexOf(':')
    (if (i < 0) name else name.substring(i + 1)).toLowerCase(java.util.Locale.ROOT)
  }

  /** Parse one sitemap document. Namespace-agnostic on local names (the
    * sitemap namespace is frequently missing or wrong in the wild).
    */
  private def parseWith(
      factory: javax.xml.stream.XMLInputFactory, xml: String): Seq[SitemapEntry] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[SitemapEntry]
    try {
      val r = factory.createXMLStreamReader(new java.io.StringReader(xml))
      try {
        var inEntry = false
        var isIndex = false
        var field: String = null
        var loc = ""
        var lastmod = ""
        // element depth + the entry element's depth: loc/lastmod only
        // count as DIRECT children of <url>/<sitemap> — extension
        // namespaces nest their own same-local-name elements deeper
        // (Google image sitemaps put <image:loc> inside <image:image>),
        // and namespace-agnostic matching without the depth guard let an
        // image URL overwrite the page URL (r19 review catch)
        var depth = 0
        var entryDepth = -1
        val text = new java.lang.StringBuilder
        while (r.hasNext) {
          r.next() match {
            case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
              depth += 1
              local(r.getLocalName) match {
                case "url" if entryDepth < 0 =>
                  inEntry = true; isIndex = false; loc = ""; lastmod = ""
                  entryDepth = depth
                case "sitemap" if entryDepth < 0 =>
                  inEntry = true; isIndex = true; loc = ""; lastmod = ""
                  entryDepth = depth
                case n @ ("loc" | "lastmod") if inEntry && depth == entryDepth + 1 =>
                  field = n; text.setLength(0)
                case _ => () // unknown children are transparent: a stray
                             // <br/> inside <loc> must not drop the URL
              }
            case javax.xml.stream.XMLStreamConstants.CHARACTERS |
                javax.xml.stream.XMLStreamConstants.CDATA =>
              if (field != null) text.append(r.getText)
            case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
              local(r.getLocalName) match {
                case "loc" if field == "loc" && depth == entryDepth + 1 =>
                  loc = text.toString.trim; field = null
                case "lastmod" if field == "lastmod" && depth == entryDepth + 1 =>
                  lastmod = text.toString.trim; field = null
                case "url" | "sitemap" if depth == entryDepth =>
                  if (inEntry && loc.nonEmpty) out += SitemapEntry(loc, lastmod, isIndex)
                  inEntry = false
                  field = null
                  entryDepth = -1
                case _ => ()
              }
              depth -= 1
            case _ => ()
          }
        }
      } finally r.close()
    } catch { case _: Exception => () } // malformed tail → keep whole entries
    out.toSeq
  }

  /** Explode each row's sitemap XML into its entries — (id, loc, lastmod,
    * is_index), one row per URL. Partition-wise flatMap; one hardened
    * StAX factory per partition.
    */
  def entries(
      df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // rows whose id does not cast to long are skipped (hardening stance:
    // one bad row must not kill the partition)
    df.select(col("doc_id").cast("long").as("doc_id"), col("xml"))
      .where(col("doc_id").isNotNull)
      .as[(Long, String)]
      .mapPartitions { rows =>
        val factory = newFactory()
        rows.flatMap { case (id, xml) =>
          if (xml == null) Iterator.empty
          else parseWith(factory, xml).iterator.map(e => (id, e.loc, e.lastmod, e.is_index))
        }
      }
      .toDF("doc_id", "loc", "lastmod", "is_index")
  }
}
