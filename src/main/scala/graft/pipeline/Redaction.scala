package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PII detection and masking — the compliance pass every training-data
  * pipeline runs before text leaves the curation boundary: find
  * email-address / phone-number / IPv4 shapes and replace them with typed
  * mask tokens, keeping per-document counts so downstream mixing can weight
  * or drop PII-heavy sources.
  *
  * (Beyond the reference surface — extends the TextAnalysis family.)
  *
  * Entirely map-side (`regexp_count` / `regexp_replace`, codegen'd
  * built-ins; zero shuffles, linear scale — the 100 TB cost is one read +
  * one write). The patterns deliberately use only RE2-compatible constructs
  * (character classes, bounded/greedy quantifiers; no backreferences or
  * lookaround) so Java's regex engine and an RE2-based replayer (DuckDB,
  * Go) find the exact same non-overlapping match set.
  */
object Redaction {

  /** user@host.tld — local part letters/digits/._%+-, dotted host, ≥2-char
    * alpha TLD.
    */
  val EmailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** North-American-style 555-123-4567 / 555 123 4567 with optional "+1 " /
    * (555) grouping. Deliberately shaped (digit-run lengths fixed) rather
    * than "any long digit string" so ids and quantities never mask; the
    * country-code separator lives INSIDE the optional group so a match
    * never starts on the whitespace before the number.
    */
  val PhonePattern: String =
    "(\\+?1[- ])?\\(?[0-9]{3}\\)?[- ][0-9]{3}[- ][0-9]{4}"

  /** Dotted-quad IPv4 shape (bounded 1-3 digit octets). */
  val Ipv4Pattern: String =
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  val EmailMask = "[EMAIL]"
  val PhoneMask = "[PHONE]"
  val IpMask = "[IP]"

  /** Per-document PII hit counts (all zero ⇒ clean doc). */
  def piiReport(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailPattern)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhonePattern)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(Ipv4Pattern)).cast("long").as("n_ips"))

  /** The input with `text` rewritten: every email/phone/IPv4 match
    * replaced by its typed mask token, other columns untouched. Masking
    * order is email → phone → IP, so a pattern can never match inside an
    * already-placed mask token (the masks contain no digits or @).
    */
  def redactPii(docs: DataFrame): DataFrame = {
    val masked =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), lit(EmailPattern), lit(EmailMask)),
          lit(PhonePattern), lit(PhoneMask)),
        lit(Ipv4Pattern), lit(IpMask))
    docs.withColumn("text", masked)
  }
}
