package graft.core

import scala.collection.immutable.{ListMap, SeqMap}

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** Write a frame once and return named long tallies from that write's
  * own job.
  *
  * Invariant: the tallies ride on ONE `Observation` at the root of the
  * written plan, so they see exactly the rows written and cost no job,
  * persist or second pass of their own. Each tally is an aggregate
  * column, cast to long, with null (a sum over no rows) read as 0, as
  * [[Probe]] reads its sums; they come back in the order given. The
  * observed row is read only after the write has returned. Every sink
  * runs the same path; a command with nothing to keep writes to
  * [[Noop]].
  */
object Land {

  sealed trait Sink
  /** One CSV file with a header ([[graft.etl.Etl.writeSingleCsv]]),
    * rows sorted by `order` (the frame's own order when empty). */
  final case class Csv(path: String, order: Column*) extends Sink
  /** A parquet directory, overwritten; Hive-partitioned by
    * `partitionBy` when given. */
  final case class Parquet(dir: String, partitionBy: String*) extends Sink
  /** Spark's `noop` format: the plan runs, the rows are dropped. */
  case object Noop extends Sink

  /** [[Csv]] at `path` when one is given, else [[Noop]]. */
  def csvOr(path: Option[String], order: Column*): Sink =
    path.fold[Sink](Noop)(Csv(_, order: _*))

  /** [[Parquet]] at `dir` when one is given, else [[Noop]]. */
  def parquetOr(dir: Option[String]): Sink = dir.fold[Sink](Noop)(Parquet(_))

  /** Write `df` to `sink`; its tallies by name, in the order given. */
  def apply(df: DataFrame, sink: Sink)
           (tallies: (String, Column)*): SeqMap[String, Long] = {
    require(tallies.nonEmpty, "Land needs at least one tally")
    val obs = Observation()
    val cols = tallies.map { case (k, c) => c.cast("long").as(k) }
    val ordered = sink match {
      case Csv(_, order @ _*) if order.nonEmpty => df.orderBy(order: _*)
      case _ => df
    }
    val out = ordered.observe(obs, cols.head, cols.tail: _*)
    sink match {
      case Csv(path, _*) => graft.etl.Etl.writeSingleCsv(out, path)
      case Parquet(dir, by @ _*) =>
        out.write.mode("overwrite").partitionBy(by: _*).parquet(dir)
      case Noop => out.write.format("noop").mode("overwrite").save()
    }
    val got = obs.get
    ListMap.from(tallies.map { case (k, _) =>
      k -> Option(got(k)).fold(0L)(_.asInstanceOf[Long])
    })
  }
}
