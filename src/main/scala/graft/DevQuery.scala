package graft

import java.nio.file.{Files, Paths}

import graft.ops.LlmBoundary.JsonMini.quote

/** Dev-only single-query Verify: dump one or more named registry queries
  * (plus their oracle SQL) in the same layout Verify writes, so
  * dev/check_oracle.py can compare a subset without a full-registry run.
  *
  * Usage: runMain graft.DevQuery <sfDir> <outDir> <name> [<name> ...]
  */
object DevQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    val spark = GraftSession.build("graft-dev-query")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val q = queries.Registry.byName(name)
      q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      spark.catalog.clearCache()
    }
    val json = names.flatMap(n => queries.Registry.byName(n).oracle.map(n -> _))
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
