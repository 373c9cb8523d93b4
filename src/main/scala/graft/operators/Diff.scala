package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus snapshot diff — what changed between two crawls/settles of
  * the same corpus? The incremental-ops report that decides whether a
  * re-crawl is worth reprocessing (mostly `unchanged` → touch nothing;
  * heavy `changed`/`added` → route through the ingest tiers) and audits
  * that a settle pipeline didn't silently drop documents. Complements
  * the incremental dedup tiers (q73/q74): those ask "is the NEW batch
  * redundant against the corpus", this asks "what happened to each id
  * between snapshot A and snapshot B".
  *
  * Semantics per id: `added` (only in B), `removed` (only in A),
  * `changed` (both, content fingerprint differs), `unchanged`.
  * Content identity is an md5 fingerprint of the raw text — EXACT
  * byte-level identity, deliberately stricter than the canonical
  * token-set fingerprint of the dedup tiers (a diff report must not
  * call a reformatted document unchanged; the dedup tiers decide
  * separately whether the change MATTERS).
  *
  * Scale shape: each snapshot collapses to slim (id, 16-byte
  * fingerprint) rows in its scan — the text never shuffles — then ONE
  * full-outer join on id. With both snapshots stored bucketed by id
  * (sources/Bucketed) the join is exchange-free; the output is one row
  * per id in either snapshot, and the status counts aggregate is
  * map-side combinable.
  */
object Diff {

  /** Per-id diff: (id, status) for every id in either snapshot.
    * CONTRACT: ids are unique within each snapshot (the settled-corpus
    * invariant every writer in this library maintains) — a duplicated
    * id would fan the full-outer join out to one row per pairing and
    * inflate the summary counts. The CLI `diff` command checks and
    * rejects duplicate ids loudly before reporting. */
  def snapshotDiff(a: DataFrame, b: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    def slim(df: DataFrame, fpName: String): DataFrame =
      df.select(col(idCol).cast("long").as("id"),
        md5(coalesce(col(textCol), lit(""))).as(fpName))
    slim(a, "__fa").join(slim(b, "__fb"), Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__fa").isNull, lit("added"))
          .when(col("__fb").isNull, lit("removed"))
          .when(col("__fa") === col("__fb"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** The one-row roll-up of a snapshotDiff frame: counts per status.
    * count(when(...)) rather than sum(when/otherwise): count is 0 over
    * an empty frame where sum is NULL — two empty snapshots roll up to
    * zeros, not a row of nulls. */
  def diffSummary(diff: DataFrame): DataFrame = {
    val cols = summary.map { case (k, c) => c.as(k) }
    diff.agg(cols.head, cols.tail: _*)
  }

  /** The summary's (name, aggregate) pairs, for a caller that tallies
    * them while it writes the diff. */
  val summary: Seq[(String, Column)] =
    Seq("added", "removed", "changed", "unchanged")
      .map(s => s"n_$s" -> count(when(col("status") === s, 1)))
}
