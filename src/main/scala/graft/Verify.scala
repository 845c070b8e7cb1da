package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.obs.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      try graft.core.Pins.scoped(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
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
    // Full catalog manifest for the check-entries pre-commit gate (in
    // tools/, see the verify skill): the complete
    // queries keyset plus any entries that THREW during the dump — a
    // failing query leaves no parquet dir, so without this list it would
    // silently vanish from the driver's compare (the r7 q_w14 bug shape).
    val catalog =
      s"""{"queries": [${SparkEntry.queries.keys.toSeq.sorted.map(q).mkString(",")}],
         | "failed": [${failed.toSeq.sorted.map(q).mkString(",")}]}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/catalog.json"), catalog)
    spark.stop()
  }
}
