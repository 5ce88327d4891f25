package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession.start(cpus)
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (driver leaves unset → all queries): run only
    // queries whose name matches one of the comma-separated substrings
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    val selected = only match {
      case Some(pats) => SparkEntry.queries.filter { case (n, _) => pats.exists(n.contains) }
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // the driver's pandas compare crashes on array/map/struct cells
        // (r9/r13 lesson) — fail the query loudly instead of the harness
        val nonScalar = df.schema.fields.filter { f =>
          import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
          f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType]
        }
        require(nonScalar.isEmpty,
          s"non-scalar output columns ${nonScalar.map(_.name).mkString(",")} " +
            "— project to scalar rows/strings before registering")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop operator-persisted caches (dedup signatures) between queries,
      // and the CC checkpoint blocks catalog.clearCache() cannot reach —
      // the parquet write above fully consumed this query's result
      spark.catalog.clearCache()
      pipeline.Dedup.clearCaches()
      pipeline.Dedup.clearCheckpoints()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
