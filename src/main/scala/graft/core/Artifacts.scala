package graft.core

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, hash, lit, sum}

/** The one owner of persisted-artifact decisions: every create-once
  * artifact under `/tmp` (parquet fixtures, blob directories, warehouse
  * tables) takes its key here, and every artifact graft publishes itself
  * goes through [[materialize]].
  *
  * Key: `/tmp/graft_<kind>_<dirTag>_<fp>`.
  *  - `dirTag` ([[dirTag]]) is the data dir with every non-alphanumeric
  *    character replaced by `_`. The benchmark harness finds a corpus's
  *    artifacts by the `graft_` prefix and this tag, so both are a naming
  *    contract, not a detail.
  *  - `fp` is one [[fingerprint]] per input frame: row count plus an
  *    order-independent hash-sum over every column of the frame. A
  *    regenerated corpus with different values at the same path (even at
  *    the same row count) therefore resolves a new key.
  *  - `kind` names the artifact AND carries its version. The key sees the
  *    inputs, never the builder code, so a change to what a builder
  *    writes must rename its kind (`wh_ordcow2` is the second layout of
  *    the `wh_ordcow` table); an unchanged kind promises unchanged output.
  */
object Artifacts {

  /** The data-dir segment of every artifact key. */
  def dirTag(dir: String): String = dir.replaceAll("[^0-9a-zA-Z]", "_")

  /** Content fingerprint of `df`: `<rows>_<hex hash-sum>` over all of its
    * columns (select the columns that matter first). Zero rows give
    * `0_0`. Memoized per (session, analyzed plan, columns): it is an
    * aggregate action over inputs that are immutable for the life of a
    * session, and every artifact-backed query asks for it on every call.
    */
  def fingerprint(df: DataFrame): String = {
    val key = s"fp_${df.queryExecution.analyzed.semanticHash()}_" +
      df.columns.mkString("|")
    SessionMemo(df.sparkSession, key) {
      val r = df.agg(count(lit(1)),
        coalesce(sum(hash(df.columns.map(col).toIndexedSeq: _*)), lit(0L)))
        .head()
      s"${r.getLong(0)}_${java.lang.Long.toHexString(r.getLong(1))}"
    }
  }

  /** The artifact path for `kind` over `inputs` of data dir `dir`. */
  def key(kind: String, dir: String, inputs: DataFrame*): String =
    (s"/tmp/graft_${kind}_${dirTag(dir)}" +: inputs.map(fingerprint))
      .mkString("_")

  /** Get-or-create the artifact at `path`: `build` writes into a fresh
    * `<path>_stage_<nanos>` directory, which is then renamed into place,
    * so readers only ever see a complete artifact. A builder that throws
    * leaves nothing behind; a builder that loses the rename race to a
    * concurrent one drops its stage and uses the winner's.
    */
  def materialize(path: String)(build: String => Unit): String = {
    val target = new File(path)
    if (!target.exists()) {
      val stage = new File(s"${path}_stage_${System.nanoTime()}")
      try build(stage.getPath)
      catch { case e: Throwable => delete(stage); throw e }
      if (!stage.renameTo(target)) {
        delete(stage)
        require(target.exists(), s"atomic move to $target failed")
      }
    }
    path
  }

  /** [[materialize]] a parquet artifact of `df`, then [[scan]] it. */
  def parquet(s: SparkSession, path: String)(df: => DataFrame): DataFrame = {
    materialize(path)(df.write.parquet(_))
    scan(s, path)
  }

  /** Memoized resolved parquet scan of an immutable artifact path.
    * Re-resolving pays a listing + schema-inference pass per call
    * (~70-100 ms measured); the memo reuses the lazy plan, and data is
    * still read from the files on every action. NOT for paths a query can
    * rewrite mid-session (warehouse generations go through WarehouseMeta's
    * validated manifest cache instead).
    */
  def scan(s: SparkSession, path: String): DataFrame =
    SessionMemo(s, s"scan_$path")(s.read.parquet(path))

  /** Recursive delete of a local directory tree (no-op when absent). */
  private[graft] def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
