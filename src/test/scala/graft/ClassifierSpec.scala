package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Classifier

class ClassifierSpec extends SparkSpec {

  private lazy val docs = Tables.read(spark, sf, "documents")

  test("trained model clearly beats the majority baseline") {
    val out = Classifier.trainAndScore(docs).cache()
    val n = out.count().toDouble
    val share = out.filter(col("y") === 1).count() / n
    val acc = out.filter(col("pred") === (col("y") === 1)).count() / n
    // the label splits ~50/50; an untrained/stalled model scores ~max
    // share. 0.1 margin = the training demonstrably learned the rule.
    assert(acc > math.max(share, 1.0 - share) + 0.1,
      s"accuracy $acc vs majority ${math.max(share, 1.0 - share)}")
    // non-degenerate: both predicted classes appear
    assert(out.filter(col("pred")).count() > 0)
    assert(out.filter(!col("pred")).count() > 0)
    out.unpersist()
  }

  test("a weight that overflows a long is refused by name") {
    val e = intercept[IllegalArgumentException] {
      Classifier.trainAndScore(docs, iters = 40, lrPpm = Long.MaxValue)
    }
    assert(e.getMessage.contains("overflows a long"), e.getMessage)
  }

  test("training is bit-stable under repartitioning") {
    // exact DECIMAL gradient sums + integer updates: the fitted scores
    // must be identical whatever the input partitioning
    val a = Classifier.trainAndScore(docs).collect().map(_.toSeq)
    val b = Classifier.trainAndScore(docs.repartition(7)).collect()
      .map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("prediction is exactly the 0.5 threshold on the reported score") {
    val bad = Classifier.trainAndScore(docs)
      .filter(col("pred") =!= (col("score_ppm") >= 500000L)).count()
    assert(bad === 0)
  }
}
