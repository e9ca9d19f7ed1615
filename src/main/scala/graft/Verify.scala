package graft

import java.nio.file.{Files, Paths}

import graft.ops.LlmBoundary.JsonMini.quote

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional third arg: comma-separated name prefixes — dump (and list in
  * oracle_sql.json) only matching queries. Used by the past-fixture-scale
  * oracle runs (e.g. `emb_` at the generated 10× tables); the driver's
  * two-arg invocation is unchanged and covers everything. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val keep: String => Boolean =
      if (args.length < 3) _ => true
      else { val ps = args(2).split(',').toSeq; n => ps.exists(n.startsWith) }
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        spark.catalog.clearCache() // per-query cache isolation
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JsonMini.quote escapes ALL control chars (<0x20): a tab or CR in
    // hand-written oracle SQL must not break the compare's JSON parse
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
