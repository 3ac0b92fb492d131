package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE (upsert) semantics over immutable file storage — the engine's
  * answer to `MERGE INTO` without a table format: WHEN MATCHED the source
  * row replaces the target row (full-row update), WHEN NOT MATCHED the
  * source row is inserted.
  */
object Merge {

  /** Pure-DataFrame merge: source rows win on key collision, unmatched
    * target rows survive. One left-anti join (broadcast-able when the
    * changeset is small — the overwhelmingly common case: daily updates
    * into a years-deep fact).
    */
  def upsert(target: DataFrame, source: DataFrame,
      keys: Seq[String]): DataFrame =
    source.unionByName(target.join(source.select(keys.map(col): _*),
      keys, "left_anti"))

  /** Apply a CDC changelog (op ∈ I/U/D with a per-key-unique sequence
    * number) to obtain final table state: for each key the highest-seq
    * event wins; a winning D means the key is absent, otherwise the
    * winning payload is the row (so D → later I resurrects the key).
    *
    * Planned as ONE aggregation — `max_by(struct(op, payload...), seq)`
    * — which partial-aggregates map-side, so at 100 TB the shuffle
    * carries one pre-reduced row per (task, key), not the raw log. (The
    * struct-typed buffer makes Spark pick SortAggregate over
    * HashAggregate, i.e. the partials sort within each task first — the
    * map-side combine is what matters.) The window-function formulation
    * (`row_number() OVER (... ORDER BY seq DESC)`) computes the same
    * thing but shuffles the FULL log before any reduction; the agg form
    * is strictly better. Requires `seq` unique within a key (any CDC
    * source's LSN/offset is).
    */
  def applyChangelog(log: DataFrame, keys: Seq[String], seqCol: String,
      opCol: String): DataFrame = {
    val payload = log.columns
      .filterNot(c => keys.contains(c) || c == seqCol || c == opCol).toSeq
    log.groupBy(keys.map(col): _*)
      .agg(max_by(struct((opCol +: payload).map(col): _*), col(seqCol))
        .as("__last"))
      .filter(col(s"__last.$opCol") =!= "D")
      .select(keys.map(col) ++ payload.map(c => col(s"__last.$c").as(c)): _*)
  }
}
