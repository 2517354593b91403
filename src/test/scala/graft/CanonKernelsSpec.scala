package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Exact6

/** The canon kernels (`Canon.exactSum` over `ExactSum6`, `Canon.md5Prefix`
  * over `Md5Prefix`) must return exactly what the Spark SQL they replace
  * returns — `sum(CAST(x AS DECIMAL(38,6)))` and
  * `conv(substring(md5(x), s, n), 16, 10)` — value for value, NULL for
  * NULL and error for error, under whole-stage codegen and under
  * interpretation. The DuckDB oracle strings are written against the
  * old SQL, so oracle parity rests on this equivalence.
  */
class CanonKernelsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val D6 = DecimalType(38, 6)
  private def oldSum(c: Column): Column = sum(c.cast(D6))

  /** Doubles that stress the fast conversion: magnitudes 1e-7..1e12,
    * exact (k+0.5)·1e-6 ties and their one-ulp neighbours, TPC-H-shaped
    * price·(1−disc)·(1+tax) products, signed zeros, subnormals and the
    * fast path's range boundaries.
    */
  private val doubles: Seq[Double] = {
    val r = new scala.util.Random(20261019)
    val mags = Seq.fill(60000) {
      val x = math.pow(10, -7 + 19 * r.nextDouble()) * (1 + r.nextDouble())
      if (r.nextBoolean()) -x else x
    }
    val ties = Seq.fill(20000) {
      val k = (math.pow(10, 16 * r.nextDouble())).toLong
      (k + 0.5) / 1e6
    }.flatMap(t => Seq(t, Math.nextUp(t), Math.nextDown(t), -t, -Math.nextUp(t)))
    val tpch = Seq.fill(40000) {
      val price = math.round(r.nextDouble() * 1e7) / 100.0
      price * (1 - r.nextInt(11) / 100.0) * (1 + r.nextInt(9) / 100.0)
    }
    val edges = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      1e-310, java.lang.Double.MIN_NORMAL, 5e-7, -5e-7, 4e9, 9e12, -9e12,
      9.2233720368547e12, 1e13, 4.5e15, 1e20, -1e20, 1e31, 9.99e31, -9.99e31)
      .flatMap(x => Seq(x, Math.nextUp(x), Math.nextDown(x)))
    mags ++ ties ++ tpch ++ edges
  }

  private def castOf(x: Any): Decimal =
    Cast(Literal(x), D6, None, EvalMode.ANSI).eval().asInstanceOf[Decimal]

  private def kernelOf(x: Double): Decimal =
    if (!Exact6.defined(x, true)) null
    else {
      val u = BigInt(Exact6.hi(x, true)) * (BigInt(1) << 64) +
        (BigInt(Exact6.lo(x, true)) & ((BigInt(1) << 64) - 1))
      Decimal(BigDecimal(u, 6))
    }

  private def outcome[A](f: => A): Either[String, A] =
    try Right(f) catch { case e: SparkThrowable => Left(e.getCondition) }

  test("the double conversion equals CAST(x AS DECIMAL(38,6)), ties, ulp neighbours and edges included") {
    val bad = doubles.filter(x => castOf(x) != kernelOf(x))
    assert(bad.isEmpty, s"${bad.size} of ${doubles.size} differ, e.g. ${bad.take(5)}")
  }

  test("NaN and ±Inf cast to NULL and out-of-range doubles raise the cast's error") {
    for (x <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      assert(castOf(x) == null)
      assert(!Exact6.defined(x, true) && !Exact6.defined(x, false))
    }
    for (x <- Seq(1e33, -1e32, Double.MaxValue)) {
      val want = outcome(castOf(x))
      assert(want.isLeft, s"cast of $x did not raise")
      assert(outcome(kernelOf(x)) == want, s"kernel vs cast at $x")
      assert(!Exact6.defined(x, false), s"non-ANSI cast of $x is NULL")
    }
  }

  /** Runs `f` under whole-stage codegen with codegen failures fatal, and
    * again fully interpreted.
    */
  private def bothModes[A](f: => A): Seq[A] = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    try Seq(Seq("true", "CODEGEN_ONLY"), Seq("false", "NO_CODEGEN")).map { vs =>
      keys.zip(vs).foreach { case (k, v) => spark.conf.set(k, v) }
      f
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sameRows(fast: DataFrame, slow: DataFrame): Unit = {
    val (a, b) = (fast.collect().toSeq, slow.collect().toSeq)
    assert(a.nonEmpty && a == b, s"kernel vs sum(cast) differ: ${a.diff(b).take(3)} vs ${b.diff(a).take(3)}")
  }

  // Whole-table sums stay inside the int128 accumulator (see ExactSum6).
  private lazy val grouped: DataFrame = doubles.filter(x => Math.abs(x) < 5e31).zipWithIndex
    .map { case (x, i) => (i % 97, if (i % 13 == 0) None else Some(x)) }
    .toDF("g", "x")
    // an all-NULL group and a group with no rows after the filter below
    .union(Seq((1000, Option.empty[Double]), (1001, Some(1.0))).toDF("g", "x"))

  test("exactSum, dsum and davg equal sum(cast) per group at 1, 7 and 64 partitions") {
    bothModes {
      for (p <- Seq(1, 7, 64)) {
        val df = grouped.repartition(p)
        sameRows(
          df.groupBy("g").agg(Canon.exactSum(col("x")).as("s"), Canon.dsum(col("x")).as("d"),
            Canon.davg(col("x")).as("a")).orderBy("g"),
          df.groupBy("g").agg(oldSum(col("x")).as("s"), oldSum(col("x")).cast("double").as("d"),
            round(oldSum(col("x")).cast("double") / count(col("x")), 4).as("a")).orderBy("g"))
        sameRows(df.agg(Canon.exactSum(col("x"))), df.agg(oldSum(col("x"))))
      }
    }
  }

  test("exactSum is NULL for empty and all-NULL input, and returns DECIMAL(38,6)") {
    val df = grouped.where(col("g") >= 1000)
    val r = df.where(col("g") === 1001 && col("x") > 5).agg(Canon.exactSum(col("x")).as("s"))
    assert(r.schema("s").dataType == D6)
    assert(r.head().isNullAt(0))
    assert(df.where(col("g") === 1000).agg(Canon.exactSum(col("x"))).head().isNullAt(0))
  }

  test("exactSum equals sum(cast) over integral and decimal inputs") {
    bothModes {
      val df = (0 until 5000).map { i =>
        val l = if (i % 3 == 0) Long.MaxValue - i else (i * 7919L - 20000) * 1000003L
        (i % 11, i, l, BigDecimal(i * 1234567L - 3000000000L, 9), BigDecimal(-i * 31L, 2))
      }.toDF("g", "i", "l", "d9", "d2")
        .select(col("g"), col("i"), col("l"), col("d9").cast(DecimalType(30, 9)).as("d9"),
          col("d2").cast(DecimalType(12, 2)).as("d2"))
        .repartition(7)
      sameRows(
        df.groupBy("g").agg(Seq("i", "l", "d9", "d2").map(c => Canon.exactSum(col(c)).as(c)).head,
          Seq("l", "d9", "d2").map(c => Canon.exactSum(col(c)).as(c)): _*).orderBy("g"),
        df.groupBy("g").agg(Seq("i", "l", "d9", "d2").map(c => oldSum(col(c)).as(c)).head,
          Seq("l", "d9", "d2").map(c => oldSum(col(c)).as(c)): _*).orderBy("g"))
    }
  }

  test("exactSum in a sliding RANGE frame equals sum(cast) (the b56 shape)") {
    bothModes {
      val df = doubles.take(20000).zipWithIndex
        .map { case (x, i) => (i % 17, (i * 37) % 400, x) }.toDF("k", "day", "x")
      val w = Window.partitionBy("k").orderBy("day").rangeBetween(-30, Window.currentRow)
      sameRows(
        df.select(col("k"), col("day"), col("x"), Canon.exactSum(col("x")).over(w).as("s"))
          .orderBy("k", "day", "x"),
        df.select(col("k"), col("day"), col("x"), oldSum(col("x")).over(w).as("s"))
          .orderBy("k", "day", "x"))
    }
  }

  test("exactSum past DECIMAL(38,6) raises what sum(cast) raises") {
    val df = Seq(6e31, 6e31, 1.0).toDF("x")
    val old = outcome(df.agg(oldSum(col("x"))).collect())
    assert(old.isLeft, "sum(cast) did not raise")
    bothModes {
      assert(outcome(df.agg(Canon.exactSum(col("x"))).collect()) == old)
      assert(outcome(df.repartition(3).groupBy(lit(1)).agg(Canon.exactSum(col("x"))).collect()) == old)
    }
    // A running sum that leaves the int128 range is an overflow error too.
    val wide = Seq.fill(3)(9.9e31).toDF("x").repartition(1)
    assert(outcome(wide.agg(Canon.exactSum(col("x"))).collect()).left.toOption
      .exists(Set("ARITHMETIC_OVERFLOW", "NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION")))
  }

  test("md5Prefix equals conv(substring(md5(x), s, n), 16, 10) for every s and n, string and binary") {
    val strs = Seq[Option[String]](Some(""), Some("a"), Some("shard:42"), Some("日本語 ünïcode"), None) ++
      (1 to 40).map(i => Some(s"rng:$i|${i * i}"))
    val df = strs.toDF("s").withColumn("b", col("s").cast("binary"))
    val pairs = for (s <- 1 to 32; n <- 1 to 15) yield (s, n)
    bothModes {
      for (c <- Seq("s", "b")) {
        val fast = df.select(pairs.map { case (s, n) => Canon.md5Prefix(col(c), s, n) }: _*)
        val slow = df.select(pairs.map { case (s, n) =>
          conv(substring(md5(col(c)), s, n), 16, 10).cast("long") }: _*)
        sameRows(fast, slow)
        assert(fast.schema.forall(_.dataType.typeName == "long"))
      }
    }
    // the SQL-string spelling is the same kernel
    assert(df.selectExpr("graft_md5_prefix(s, 31, 2)").collect().toSeq ==
      df.selectExpr("CAST(conv(substring(md5(s), 31, 2), 16, 10) AS BIGINT)").collect().toSeq)
  }

  test("md5Prefix rejects len 16 and a non-constant start") {
    val df = Seq(("a", 1)).toDF("s", "i")
    intercept[AnalysisException](df.select(Canon.md5Prefix(col("s"), 1, 16)).collect())
    intercept[AnalysisException](df.selectExpr("graft_md5_prefix(s, i, 4)").collect())
    intercept[AnalysisException](df.select(Canon.md5Prefix(col("i"), 1, 4)).collect())
  }

  test("both kernels resolve in a fresh newSession whose plans come from Tables.t") {
    val s2 = spark.newSession()
    val r = Tables.t(s2, TestSpark.sf0001, "lineitem")
      .agg(Canon.exactSum(col("l_quantity")).as("s"),
        sum(col("l_quantity").cast(D6)).as("old"),
        max(Canon.md5Prefix(col("l_returnflag"), 1, 8)).as("m"),
        max(conv(substring(md5(col("l_returnflag")), 1, 8), 16, 10).cast("long")).as("mold"))
      .head()
    assert(r.get(0) == r.get(1) && r.get(2) == r.get(3) && !r.isNullAt(0))
  }

  test("one channel: no canon sum or md5 prefix is spelled out outside Canon and graft/functions") {
    // Every DECIMAL(38,6) sum goes through Canon.exactSum and every md5
    // hex-prefix integer through Canon.md5Prefix / graft_md5_prefix, so
    // new code cannot bypass the kernels. A `sum(` whose argument casts
    // to DecimalType(38, 6) and `conv(substring(md5(` are the needles.
    val md5Conv = """conv\(\s*substring\(\s*md5\(""".r
    def sumArgs(src: String): Iterator[String] =
      """\bsum\(""".r.findAllMatchIn(src).map { m =>
        var depth = 1
        var i = m.end
        while (i < src.length && depth > 0) {
          if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
          i += 1
        }
        src.substring(m.end, i)
      }
    val srcs = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => p -> java.nio.file.Files.readString(p)).toList
    }
    assert(srcs.exists(_._1.endsWith("Canon.scala")), "scan found no Canon.scala")
    val offenders = for {
      (p, src) <- srcs
      if p.getFileName.toString != "Canon.scala" && !p.toString.contains("graft/functions/")
      hit <- md5Conv.findAllIn(src).toSeq ++
        sumArgs(src).filter(_.contains("DecimalType(38, 6)")).map("sum(" + _.take(60))
    } yield s"$p: $hit"
    assert(offenders.isEmpty, s"canon spelled out past the kernels: $offenders")
  }
}
