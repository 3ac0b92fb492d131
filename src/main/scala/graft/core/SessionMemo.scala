package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Session-scoped memo for per-call driver work that is invariant within
  * one SparkSession — fixture fingerprints (an aggregate action per call)
  * and resolved fixture scans (a listing + schema-inference pass per
  * call). The bench contract's inputs are immutable for the life of a
  * session, so recomputing these per query per pass is pure driver
  * overhead: measured ~0.1-0.3 s per call, paid by every fixture-backed
  * query on every bench pass.
  *
  * This is METADATA reuse, not result caching: values memoized here are
  * fingerprint strings and lazy scan plans — every query action still
  * computes its rows from the parquet inputs. Keys include the session
  * object, and entries of stopped sessions are swept on access, so spec
  * suites that stop/recreate sessions can never see a stale binding.
  *
  * Bodies may nest (an artifact builder asks for fingerprints and scans
  * of other artifacts), so the body runs OUTSIDE the map: get, compute,
  * then `putIfAbsent`, whose winner every racing caller returns. Two
  * callers that miss together both compute, which is harmless because
  * every memoized value is a pure function of immutable inputs.
  */
object SessionMemo {

  private val m = new ConcurrentHashMap[(SparkSession, String), AnyRef]()

  def apply[T <: AnyRef](s: SparkSession, key: String)(body: => T): T = {
    m.keySet.removeIf(_._1.sparkContext.isStopped)
    val k = (s, key)
    val hit = m.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = body
      Option(m.putIfAbsent(k, v)).getOrElse(v).asInstanceOf[T]
    }
  }
}
