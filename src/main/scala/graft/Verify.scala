package graft

import java.nio.file.{Files, Paths}

import graft.core.Jsons

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `graft.Verify <sfDir> <outDir> [k1,k2,...]`. The optional key
  * list (spot checks) is checked like Bench's `--only`: an unknown key
  * exits 2 naming the nearest one. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val selected = Cli.orExit("usage: graft.Verify <sfDir> <outDir> [k1,k2,...]")(
      Bench.select(args.lift(2).map(Cli.items)))
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      Bench.runKey(spark, sfDir, fn)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        .foreach(e => System.err.println(s"[verify] $name failed: $e"))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Jsons.obj(SparkEntry.oracleSql.toSeq: _*).text)
    spark.stop()
  }
}
