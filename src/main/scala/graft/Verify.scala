package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: run only these queries (fast local iteration).
    val only = args.drop(2).toSet
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // A typo'd name must fail loudly, not select nothing and let the
    // oracle compare pass vacuously with 0 queries.
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    // A query that throws is counted, not only logged: the run still
    // writes every other dump, then exits 1 naming the failures.
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
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
    // Fixture-adaptive oracles overlay the static fallbacks: schema-
    // dependent graph SQL, and twins that pin learned state (IVF/PQ
    // centroids and codebooks, ALS factors, the deep BPE merge table)
    // from the same memoized state the dumped results read. A failed
    // overlay leaves its rows on the static SQL and counts as a failure.
    val overlays: Seq[(String, () => Map[String, String])] = Seq(
      "graph" -> (() => graph.GraphRegistry.adaptiveOracles(spark, sfDir)),
      "similarity" ->
        (() => similarity.SimilarityRegistry.adaptiveOracles(spark, sfDir)),
      "recs" -> (() => operators.RecsRegistry.adaptiveOracles(spark, sfDir)),
      "text" -> (() => text.TextRegistry.adaptiveOracles(spark, sfDir)))
    val overlayFailed = Seq.newBuilder[String]
    val adaptive = overlays.foldLeft(SparkEntry.oracleSql) {
      case (acc, (module, build)) =>
        try acc ++ build()
        catch { case e: Throwable =>
          System.err.println(s"[verify] $module adaptive oracles failed: $e")
          overlayFailed += s"adaptive:$module"
          acc
        }
    }
    val oracles =
      if (only.isEmpty) adaptive
      else adaptive.filter { case (n, _) => only(n) }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val allFailed = (failed ++ overlayFailed.result()).sorted
    println(s"[verify] failed ${allFailed.size}/${selected.size + overlays.size}" +
      (if (allFailed.isEmpty) "" else ": " + allFailed.mkString(", ")))
    if (allFailed.nonEmpty) sys.exit(1)
  }
}
