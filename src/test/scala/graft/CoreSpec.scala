package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => ScTest}

import graft.core.{GraftFunctions, HashKeyOps, KeyMapper, Normalize, SessionMemo, TimeParse}

/** F1/F2/F7/F9 scalar semantics + J1 join semantics (SURVEY §5.2-5.3). */
class HashKeySpec extends SparkSpec {

  /** Independent reference implementation of the surrogate-key hash,
    * deliberately written the way the reference's Python does it (hex digest
    * string → arbitrary-precision int → mod 1e9; `etl/core/utils.py:5-8`).
    * Lives in TEST sources only: the engine hot path (`HashKeyOps.md5Mod1e9`)
    * folds raw digest bytes with 64-bit arithmetic and never allocates a hex
    * string — this copy exists purely to cross-check it.
    */
  private def pythonSemantics(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new java.math.BigInteger(hex, 16)
      .mod(java.math.BigInteger.valueOf(1000000000L)).longValueExact()
  }

  test("md5Mod1e9 matches the Python reference semantics (hex->int % 1e9)") {
    val vectors = Seq("hello|world", "", "a", "nation_0|africa",
      "null|", "|", "x" * 1000, "ünïcode|ok")
    vectors.foreach { v =>
      assert(HashKeyOps.md5Mod1e9(UTF8String.fromString(v)) ===
        pythonSemantics(v), s"vector: $v")
    }
  }

  test("known vector: hello|world -> 854764784") {
    assert(HashKeyOps.md5Mod1e9(UTF8String.fromString("hello|world")) === 854764784L)
  }

  test("hash range is [0, 1e9), stable, and Python-equal (property)") {
    val prop = Prop.forAll(Gen.asciiPrintableStr) { s =>
      val h = HashKeyOps.md5Mod1e9(UTF8String.fromString(s))
      h >= 0 && h < 1000000000L &&
        h == HashKeyOps.md5Mod1e9(UTF8String.fromString(s)) &&
        h == pythonSemantics(s)
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("expression evaluates through the session (codegen path)") {
    import spark.implicits._
    val df = Seq("hello|world", "abc").toDF("s")
      .select(call_function("graft_md5_mod_1e9", col("s")).as("h"))
    assert(df.collect().map(_.getLong(0)).toSeq ===
      Seq("hello|world", "abc").map(pythonSemantics))
  }
}

class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  test("normalize: null -> empty, trim+lower; idempotent") {
    val df = Seq(Some("  MiXeD  "), None, Some(""), Some("ok")).toDF("c")
    val out = df.select(Normalize.normalizeCol(col("c")).as("n"))
      .as[String].collect().toSeq
    assert(out === Seq("mixed", "", "", "ok"))
    val twice = df.select(
      Normalize.normalizeCol(Normalize.normalizeCol(col("c"))).as("n"))
      .as[String].collect().toSeq
    assert(twice === out)
  }

  test("yesNo maps only exact Yes/No, else null") {
    val df = Seq("Yes", "No", "yes", "maybe").toDF("c")
    val out = df.select(Normalize.yesNo(col("c")).as("b"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getBoolean(0))
    assert(out.toSeq === Seq(true, false, null, null))
  }

  test("coercing casts: garbage -> null (non-ANSI)") {
    val df = Seq("12", "x", "3.5").toDF("c")
    val longs = df.select(Normalize.toLong(col("c")).as("l")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getLong(0))
    // Spark non-ANSI long cast truncates decimal strings (3.5 -> 3)
    assert(longs.toSeq === Seq(12L, null, 3L))
    val dbls = df.select(Normalize.toDouble(col("c")).as("d")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(dbls.toSeq === Seq(12.0, null, 3.5))
  }
}

class TimeParseSpec extends SparkSpec {
  import spark.implicits._

  test("AM/PM parser: the four reference shapes (load_parking.py:88-94)") {
    val cases = Seq(
      "0853P" -> 205300L, "8:53A" -> 85300L, "12:05PM" -> 120500L,
      "12:05AM" -> 500L, "853A" -> 85300L, "  7:10p  " -> 191000L,
      "9961X" -> -1L, "13:00P" -> -1L, "0:30A" -> -1L, "" -> -1L)
    val df = cases.map(_._1).toDF("raw")
      .select(TimeParse.parseAmPmKey(col("raw")).as("k"))
    val got = df.collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    assert(got.toSeq === cases.map(_._2))
  }

  test("date/time keys from timestamps") {
    val df = Seq("2024-03-05 14:07:59").toDF("s")
      .select(to_timestamp(col("s")).as("ts"))
    val row = df.select(TimeParse.dateKey(col("ts")), TimeParse.timeKey(col("ts")))
      .collect().head
    assert(row.getLong(0) === 20240305L && row.getLong(1) === 140700L)
  }

  test("coercing timestamp parse returns null on garbage") {
    val df = Seq("2024-01-01 10:00:00", "not a date").toDF("s")
      .select(TimeParse.parseTs(col("s")).as("ts"))
    val got = df.collect().map(_.isNullAt(0))
    assert(got.toSeq === Seq(false, true))
  }
}

class GuardsSpec extends SparkSpec {
  import org.apache.spark.sql.types._
  import spark.implicits._

  test("requireColsOrEmpty: present passes through, absent yields typed empty") {
    val df = Seq((1L, "a")).toDF("id", "name")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("extra", StringType)))
    assert(graft.core.Guards.requireColsOrEmpty(df, Seq("id", "name"), schema)
      .count() === 1)
    val empty = graft.core.Guards.requireColsOrEmpty(df, Seq("missing"), schema)
    assert(empty.count() === 0 && empty.schema === schema)
  }

  test("ensureColumn adds only when absent (F10 default fill)") {
    val df = Seq((1L, "a")).toDF("id", "name")
    val withDefault = graft.core.Normalize.ensureColumn(df, "city")
    assert(withDefault.columns.contains("city"))
    assert(withDefault.select("city").collect().head.getString(0) === "")
    assert(graft.core.Normalize.ensureColumn(df, "name").columns.length === 2)
  }
}

class TopKBySpec extends SparkSpec {
  import spark.implicits._

  test("top-k aggregate: ordering, ties by id, small groups") {
    val df = Seq(
      ("a", 3.0, 1L), ("a", 5.0, 2L), ("a", 5.0, 3L), ("a", 1.0, 4L),
      ("b", 2.0, 9L))
      .toDF("g", "v", "id")
    val out = df.groupBy("g")
      .agg(call_function("graft_top_k_by", col("v"), col("id"), lit(2))
        .as("topk"))
      .select(col("g"), posexplode(col("topk")))
      .select(col("g"), col("pos"), col("col.value"), col("col.id"))
      .orderBy("g", "pos")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    // ties broken by smaller id; group smaller than k returns all rows
    assert(out.toSeq === Seq(
      ("a", 0, 5.0, 2L), ("a", 1, 5.0, 3L), ("b", 0, 2.0, 9L)))
  }

  test("int/float inputs are coerced; NaN values are dropped") {
    val df = Seq(
      ("a", 3, 1), ("a", 7, 2), ("a", 5, 3))
      .toDF("g", "v", "id") // int value, int id
    val coerced = df.groupBy("g")
      .agg(call_function("graft_top_k_by", col("v"), col("id"), lit(1))
        .as("topk"))
      .select(explode(col("topk")))
      .select(col("col.value"), col("col.id"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(coerced.toSeq === Seq((7.0, 2L)))

    val withNaN = Seq(
      ("a", Double.NaN, 1L), ("a", 2.0, 2L), ("a", Double.NaN, 3L))
      .toDF("g", "v", "id")
    val out = withNaN.groupBy("g")
      .agg(call_function("graft_top_k_by", col("v"), col("id"), lit(3))
        .as("topk"))
      .select(explode(col("topk")))
      .select(col("col.value"), col("col.id"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(out.toSeq === Seq((2.0, 2L)))

    // structurally un-castable value is a clean analysis error, not a
    // mid-job ClassCastException
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("a", Array(1.0), 1L)).toDF("g", "v", "id").groupBy("g")
        .agg(call_function("graft_top_k_by", col("v"), col("id"), lit(1)))
        .collect()
    }
  }
}

class KeyMapperSpec extends SparkSpec {
  import spark.implicits._

  test("assignKeys: left join preserves fact rows; null and empty collide") {
    val fact = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("id", "k")
    val factN = fact.withColumn("k", Normalize.normalizeCol(col("k")))
    val dim = factN.select("k").distinct()
      .withColumn("key", GraftFunctions.hashKey(Seq(col("k"))))
    val out = KeyMapper.assignKeys(factN, dim, Seq("k"), "key")
    assert(out.count() === 3)
    val keys = out.orderBy("id").select("key").as[Long].collect()
    // null and "" normalize to the same "" -> same surrogate key
    assert(keys(1) === keys(2))
    assert(!out.columns.contains("k"))
  }

  test("assignKeys: missing natural key column -> null key (P4 guard)") {
    val fact = Seq((1L, "x")).toDF("id", "other")
    val dim = Seq(("a", 7L)).toDF("k", "key")
    val out = KeyMapper.assignKeys(fact, dim, Seq("k"), "key")
    assert(out.count() === 1 && out.select("key").collect().head.isNullAt(0))
  }

  test("registered functions reject wrong arity with a named signature") {
    // a bare exprs(i) would surface as IndexOutOfBoundsException; the
    // registration gate must name the function and expected count instead
    for ((sql, fn) <- Seq(
        ("SELECT graft_jaro_winkler('a')", "graft_jaro_winkler"),
        ("SELECT graft_blocklist_mask('a')", "graft_blocklist_mask"),
        ("SELECT graft_dot(array(1.0))", "graft_dot"),
        ("SELECT graft_md5_mod_1e9('a', 'b')", "graft_md5_mod_1e9"),
        ("SELECT graft_top_k_by(1, 2)", "graft_top_k_by"))) {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains(fn) && msg.contains("arguments"),
        s"$sql raised ${e.getClass.getName}: $msg")
    }
  }
}

class SessionMemoSpec extends SparkSpec {

  test("memo bodies may nest: 32 nested distinct-key calls") {
    // an artifact builder asks for fingerprints and scans of other
    // artifacts inside its own memoized body; a memo that computes inside
    // the map (computeIfAbsent) throws 'Recursive update' on such nesting
    val tag = System.nanoTime()
    var runs = 0
    def nest(depth: Int): String =
      SessionMemo(spark, s"spec_nest_${tag}_$depth") {
        runs += 1
        if (depth == 0) "leaf" else nest(depth - 1) + "."
      }
    assert(nest(31) == "leaf" + "." * 31)
    assert(runs == 32)
    assert(nest(31) == "leaf" + "." * 31)
    assert(runs == 32, "a memo hit must not re-run the body")
  }
}
