package graft.pipeline

import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the ETL (reference `main.py:186-191`:
  * `python main.py --start S --end E`). Runs one incremental slice, or a
  * month-at-a-time backfill over the range with `--backfill`
  * (`load_history.py:4-17`), and prints per-table load counts
  * (`main.py:60-63` observability).
  *
  * {{{
  * spark-submit --class graft.pipeline.Main graft.jar \
  *   --sf /root/testdata/sf0.01 --out /tmp/graft_etl \
  *   --start 1996-01-01 --end 1996-02-01 [--idempotent-dims] [--backfill]
  * }}}
  */
object Main {

  final case class Args(
      sf: String = "",
      out: String = "",
      start: String = "",
      end: String = "",
      idempotentDims: Boolean = false,
      backfill: Boolean = false)

  def parse(argv: Seq[String]): Args = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Args): Args = rest match {
      case "--sf" :: v :: t => loop(t, acc.copy(sf = v))
      case "--out" :: v :: t => loop(t, acc.copy(out = v))
      case "--start" :: v :: t => loop(t, acc.copy(start = v))
      case "--end" :: v :: t => loop(t, acc.copy(end = v))
      case "--idempotent-dims" :: t => loop(t, acc.copy(idempotentDims = true))
      case "--backfill" :: t => loop(t, acc.copy(backfill = true))
      case Nil => acc
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val a = loop(argv.toList, Args())
    def req(v: String, flag: String): Unit =
      require(v.nonEmpty, s"$flag is required")
    req(a.sf, "--sf"); req(a.out, "--out")
    req(a.start, "--start"); req(a.end, "--end")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toIndexedSeq)
    val spark = SparkSession.builder()
      .appName("graft-etl")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val cfg = Pipeline.Config(a.sf, a.out, a.start, a.end, a.idempotentDims)
    val runs: Seq[Map[String, Long]] =
      if (a.backfill) Backfill.run(spark, cfg)
      else Seq(Pipeline.run(spark, cfg))
    runs.zipWithIndex.foreach { case (counts, i) =>
      if (runs.length > 1) println(s"slice ${i + 1}/${runs.length}:")
      counts.toSeq.sortBy(_._1).foreach { case (table, n) =>
        println(f"  $table%-18s $n%10d rows")
      }
    }
  }
}
