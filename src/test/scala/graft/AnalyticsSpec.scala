package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** A fresh temp dir named `prefix…`, deleted with everything in it
    * when the test JVM exits. (`FileUtils.forceDeleteOnExit` registers
    * only the files present when it is called, so on a new, empty dir
    * it would leave every file a test writes later behind.) */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir.toFile)
    dir
  }
  private lazy val tempDirs = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
    sys.addShutdownHook(dirs.forEach(d => { FileUtils.deleteQuietly(d); () }))
    dirs
  }
}

class AnalyticsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every declared query has an oracle or is rows-only by design") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("SURVEY.md §2 inventory and SparkEntry.queries agree exactly") {
    val survey = java.nio.file.Files.readString(
      java.nio.file.Paths.get("SURVEY.md"))
    val declared = """\*\*`([a-z0-9_]+)`\*\*""".r
      .findAllMatchIn(survey).map(_.group(1)).toSet
    val implemented = SparkEntry.queries.keySet
    assert(declared -- implemented == Set.empty,
      s"SURVEY declares but queries lacks: ${declared -- implemented}")
    assert(implemented -- declared == Set.empty,
      s"queries implements but SURVEY omits: ${implemented -- declared}")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001 and returns rows") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned no rows at sf0.001")
    }
  }

  test("q1 group count and exact quantity sum") {
    val rows = queries.Analytics.q1(spark, sf).collect()
    assert(rows.length == 6) // 3 returnflags x 2 linestatus
    val total = rows.map(_.getAs[Double]("sum_qty")).sum
    assert(total > 0 && total == math.rint(total), "quantities are integer-valued")
  }

  test("q9 topk is sorted descending") {
    val prices = queries.Analytics.q9(spark, sf)
      .collect().map(_.getAs[Double]("o_totalprice"))
    assert(prices.sameElements(prices.sortBy(-_)))
  }

  test("q19 full outer covers all 25 nations") {
    assert(queries.Analytics.q19(spark, sf).count() == 25)
  }

  test("q22 approx distinct: exact counts verified + 5% bound flag true") {
    val rows = queries.Analytics2.q22(spark, sf).collect()
    assert(rows.nonEmpty)
    val exact = Tables.lineitem(spark, sf)
      .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
      .agg(org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("l_orderkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val k = r.getString(0)
      assert(r.getLong(1) == exact(k), s"$k exact_orders drifted")
      assert(r.getBoolean(3), s"$k: HLL estimate escaped the 5% bound")
    }
  }

  test("q23a approx percentile: rank-bound flags true, stats match exact q23") {
    val a = queries.Analytics2.q23a(spark, sf).collect()
    assert(a.nonEmpty)
    val exact = queries.Analytics2.q23(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Double]("lo"), r.getAs[Double]("hi"))).toMap
    a.foreach { r =>
      val k = r.getString(0)
      assert(r.getBoolean(4) && r.getBoolean(5),
        s"$k: approx percentile escaped the GK rank-error bound")
      assert((r.getAs[Double]("lo"), r.getAs[Double]("hi")) == exact(k),
        s"$k: group min/max drifted from exact q23")
    }
  }

  test("q49 KMV distinct is within 10% of exact (both estimate columns)") {
    import org.apache.spark.sql.functions._
    val kmv = queries.Analytics4.q49(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("no"),
        countDistinct(col("l_partkey")).as("np"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (k, (no, np)) =>
      val (eo, ep) = kmv(k)
      assert(math.abs(eo - no).toDouble / no < 0.10, s"$k orders: kmv=$eo exact=$no")
      assert(math.abs(ep - np).toDouble / np < 0.10, s"$k parts: kmv=$ep exact=$np")
    }
  }

  test("KmvSketch aggregate equals an in-memory k-smallest-md5 replay") {
    import org.apache.spark.sql.functions._
    import graft.functions.KmvSketch
    val k = 16
    // 8 partitions force the partial/merge/serde paths; g=6 has only
    // 10 distinct values (< k) to exercise the exact-count branch
    val df = SparkTestSession.spark.range(0, 1000)
      .select((col("id") % 7).as("g"),
        when(col("id") % 7 === 6, col("id") % 10)
          .otherwise(col("id") % 333).as("v"))
      .repartition(8)
    val got = df.groupBy(col("g"))
      .agg(KmvSketch.kmvSketch(col("v"), k).as("s"))
      .select(col("g"), col("s.cnt"), col("s.kth")).collect()
      .map(r => (r.getLong(0), (r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2)))).toMap
    val rows = (0L until 1000L).map(id =>
      (id % 7, if (id % 7 == 6) id % 10 else id % 333))
    val exp = rows.groupBy(_._1).map { case (g, vs) =>
      val hs = vs.map(_._2).distinct.map(v => KmvSketch.md5Hex(v.toString)).sorted
      (g, (math.min(hs.size, k).toLong, if (hs.size >= k) hs(k - 1) else null))
    }
    assert(got == exp)
    assert(got(6L)._2 == null, "under-k group must report exact cnt, null kth")
  }

  test("q51 funnel equals a sequential per-user replay with conversion windows") {
    import org.apache.spark.sql.functions._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val clickWin = 1L * 86400 * 1000000
    val buyWin = 2L * 86400 * 1000000
    val byUser = evs.groupBy(_._1)
    val staged = byUser.toSeq.map { case (_, es) =>
      val tv = es.filter(_._2 == "view").map(_._3).minOption
      val tc = tv.flatMap(v => es.filter(e => e._2 == "click" && e._3 > v).map(_._3).minOption)
      val tp = tc.flatMap(c => es.filter(e => e._2 == "purchase" && e._3 > c).map(_._3).minOption)
      val ok2 = tv.isDefined && tc.exists(_ - tv.get <= clickWin)
      val ok3 = ok2 && tp.exists(_ - tc.get <= buyWin)
      val depth = if (ok3) 3 else if (ok2) 2 else if (tv.isDefined) 1 else 0
      (depth, if (ok3) Some(tp.get - tv.get) else None)
    }.toSeq
    val expected = staged.groupBy(_._1).map { case (d, xs) =>
      (d, xs.size.toLong, xs.flatMap(_._2) match {
        case Nil => None; case ys => Some(ys.sum) })
    }.toSeq.sortBy(_._1)
    val got = queries.Analytics4.q51(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == byUser.size, "depth buckets must partition the users")
  }

  test("q52 retention equals a sequential per-user cohort replay") {
    import org.apache.spark.sql.functions._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), Math.floorDiv(r.getLong(1), 86400000000L)))
    val firstDay = evs.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val activeCells = evs.distinct.map { case (u, d) => (firstDay(u), d - firstDay(u), u) }
    val cohortN = firstDay.values.groupBy(identity).view.mapValues(_.size).toMap
    val expected = activeCells.groupBy(c => (c._1, c._2)).map { case ((c, o), xs) =>
      val n = xs.map(_._3).distinct.size.toLong
      (c, o, n, n.toDouble / cohortN(c))
    }.toSeq.sortBy(x => (x._1, x._2))
    val got = queries.Analytics4.q52(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
    // offset 0 is always fully retained (first-touch day is active)
    assert(got.filter(_._2 == 0L).forall(_._4 == 1.0))
  }

  test("q53 market basket equals an in-memory pair-mining replay") {
    import org.apache.spark.sql.functions._
    val baskets = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val nOrders = baskets.map(_._1).distinct.length.toLong
    val itemN = baskets.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = baskets.groupBy(_._1).values.toSeq
      .flatMap { lines =>
        val parts = lines.map(_._2).sorted
        for (i <- parts.indices; j <- i + 1 until parts.length)
          yield (parts(i), parts(j))
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .collect { case ((a, b), n) if n >= 2 =>
        (a, b, n, (n * nOrders).toDouble / (itemN(a) * itemN(b)).toDouble)
      }
      .sortBy { case (a, b, n, _) => (-n, a, b) }
      .take(200)
    val got = queries.Analytics4.q53(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
    // lift must exceed 1 for genuinely associated pairs at the top
    assert(got.take(4).forall(_._4 > 1.0))
  }

  test("q58 set-algebra sketch equals a full in-memory replay") {
    import org.apache.spark.sql.functions._
    val acts = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderdate").cast("date").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byCust = acts.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def sampled(k: Long) = graft.functions.KmvSketch.md5Hex(k.toString) < "20"
    val flags = byCust.map { case (k, ds) =>
      (k, ds.exists(d => d >= "1995-01-01" && d <= "1995-06-30"),
        ds.exists(d => d >= "1995-07-01" && d <= "1995-12-31"))
    }.toSeq
    def pair(p: ((Long, Boolean, Boolean)) => Boolean) =
      Seq(flags.count(p).toLong, 8L * flags.count(f => p(f) && sampled(f._1)))
    val expected = (pair(_._2) ++ pair(_._3) ++ pair(f => f._2 || f._3) ++
      pair(f => f._2 && f._3) ++ pair(f => f._2 && !f._3))
    val r = queries.Analytics4.q58(spark, sf).collect()(0)
    val got = (0 until 10).map(r.getLong)
    assert(got == expected)
    // the algebra must be non-degenerate: both sets populated, a real
    // intersection and a real difference
    assert(got(0) > 0 && got(2) > 0 && got(6) > 0 && got(8) > 0)
  }

  test("q59 regression fit equals an in-memory sufficient-statistic replay") {
    import org.apache.spark.sql.functions._
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, rs) =>
      // the quantised statistics: cents-exact inputs, floored products
      def cents(v: Double) = math.round(v * 100) // 2-decimal money, exact
      val n = rs.length.toDouble
      val sx = rs.map(r => cents(r._2)).sum / 100.0
      val sy = rs.map(r => cents(r._3)).sum / 100.0
      def fl(a: Double, b: Double) =
        java.math.BigDecimal.valueOf(cents(a), 2)
          .multiply(java.math.BigDecimal.valueOf(cents(b), 2))
          .setScale(0, java.math.RoundingMode.FLOOR).longValueExact()
      val sxy = rs.map(r => fl(r._2, r._3)).sum.toDouble
      val sxx = rs.map(r => fl(r._2, r._2)).sum.toDouble
      val syy = rs.map(r => fl(r._3, r._3)).sum.toDouble
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val intercept = (sy - slope * sx) / n
      val corr = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      (f, rs.length.toLong, slope, intercept, corr)
    }
    val got = queries.Analytics4.q59(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expected)
    // fit must be non-degenerate: every group has a real correlation
    assert(got.forall { case (_, n, _, _, c) => n > 0 && math.abs(c) < 1 })
  }

  test("q59 degenerate (zero-variance) groups answer NULL, never NaN or a zero-division") {
    import org.apache.spark.sql.functions._
    // a lineitem slice where one group's quantity is a CONSTANT
    // fractional value: floor quantisation pushes n·Σx²-(Σx)² a hair
    // negative, the exact case the variance guard exists for
    val dir = tempDir("graft_q59").toString
    try {
      import spark.implicits._
      Seq(
        ("K", 1.5, 100.00), ("K", 1.5, 200.00), ("K", 1.5, 50.00),
        ("V", 1.0, 100.00), ("V", 2.0, 210.00), ("V", 3.0, 290.00))
        .toDF("l_returnflag", "l_quantity", "l_extendedprice")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val rows = queries.Analytics4.q59(spark, dir).collect()
      val k = rows.find(_.getString(0) == "K").get
      assert(k.isNullAt(2) && k.isNullAt(3) && k.isNullAt(4),
        s"constant-x group must yield NULL slope/intercept/corr, got $k")
      val v = rows.find(_.getString(0) == "V").get
      assert(!v.isNullAt(2) && !v.getDouble(4).isNaN,
        "a real group must still fit")
      // the V fit is the textbook line through (1,100),(2,210),(3,290)
      assert(math.abs(v.getDouble(2) - 95.0) < 1.0, s"slope ~95, got ${v.getDouble(2)}")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("q57 join-cardinality estimator equals a full in-memory replay") {
    import org.apache.spark.sql.functions._
    val ce = Tables.events(spark, sf).select("user_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length.toLong).toMap
    val co = Tables.orders(spark, sf).select("o_custkey").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length.toLong).toMap
    def sampled(k: Long) =
      graft.functions.KmvSketch.md5Hex(k.toString) < "20"
    val common = ce.keySet intersect co.keySet
    val expected = (
      ce.size.toLong, 8L * ce.keys.count(sampled),
      co.size.toLong, 8L * co.keys.count(sampled),
      common.size.toLong, 8L * common.count(sampled),
      common.toSeq.map(k => ce(k) * co(k)).sum,
      8L * common.toSeq.filter(sampled).map(k => ce(k) * co(k)).sum)
    val r = queries.Analytics4.q57(spark, sf).collect()(0)
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
    assert(got == expected)
    // the construction must exercise the many-to-many case and a
    // non-degenerate sample, or the estimator proves nothing
    assert(got._7 > got._5, "join size must exceed key intersection")
    assert(got._2 > 0 && got._4 > 0, "sample must be non-empty")
  }

  test("q54 transitions equal a sequential per-user path replay") {
    import org.apache.spark.sql.functions._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val edges = evs.groupBy(_._1).values.toSeq.flatMap { es =>
      val path = es.sortBy(e => (e._4, e._2)).map(_._3)
      path.zip(path.drop(1))
    }
    val bySrc = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val expected = edges.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((a, b), n) => (a, b, n, n.toDouble / bySrc(a)) }
      .sortBy { case (a, b, n, _) => (-n, a, b) }
      .take(20)
    val got = queries.Analytics4.q54(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
    // P(dst|src) is a conditional distribution: every share in (0, 1]
    assert(got.forall(r => r._4 > 0.0 && r._4 <= 1.0))
  }

  test("q55 peak concurrency equals a sequential sweep-line replay") {
    import org.apache.spark.sql.functions._
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = evs.groupBy(_._1).toSeq.map { case (tpe, es) =>
      val pts = es.flatMap { case (_, t0, id) =>
        Seq((t0, 1, id), (t0 + 300000000L, -1, id)) }
        .sortBy { case (t, dlt, id) => (t, dlt, id) }
      var cur = 0L; var peak = Long.MinValue
      pts.foreach { p => cur += p._2; if (cur > peak) peak = cur }
      (tpe, peak, es.length.toLong)
    }.sortBy(_._1)
    val got = queries.Analytics4.q55(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // peak is bounded by the type's event count and is at least 1
    assert(got.forall(r => r._2 >= 1 && r._2 <= r._3))
  }

  test("q56 RFM census equals an in-memory quartile replay") {
    import org.apache.spark.sql.functions._
    val cust = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("dt"),
        col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate,
        math.floor(r.getDouble(2) * 100 + 0.5).toLong))
      .groupBy(_._1).toSeq.map { case (ck, os) =>
        (ck, os.map(_._2).max, os.length.toLong, os.map(_._3).sum)
      }
    val anchor = cust.map(_._2).max
    // ntile(4): first (n mod 4) buckets get ceil(n/4) rows, rest floor
    def ntile4[A](xs: Seq[A]): Map[A, Int] = {
      val n = xs.length; val base = n / 4; val extra = n % 4
      val bounds = (1 to 4).scanLeft(0) { (acc, b) =>
        acc + base + (if (b <= extra) 1 else 0) }
      xs.zipWithIndex.map { case (x, i) =>
        x -> (bounds.indexWhere(_ > i))
      }.toMap
    }
    val rq = ntile4(cust.sortBy { case (ck, last, _, _) =>
      (java.time.temporal.ChronoUnit.DAYS.between(last, anchor), ck) }.map(_._1))
    val fq = ntile4(cust.sortBy { case (ck, _, f, _) => (-f, ck) }.map(_._1))
    val mq = ntile4(cust.sortBy { case (ck, _, _, m) => (-m, ck) }.map(_._1))
    val expected = cust.map(c => (rq(c._1), fq(c._1), mq(c._1), c._1))
      .groupBy(t => (t._1, t._2, t._3)).toSeq
      .map { case ((r, f, m), cs) => (r, f, m, cs.size.toLong, cs.map(_._4).min) }
      .sortBy(t => (t._1, t._2, t._3))
    val got = queries.Analytics4.q56(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected)
    // every customer lands in exactly one segment
    assert(got.map(_._4).sum == cust.length.toLong)
  }

  test("q24 as-of join: clicked_at is never after the purchase") {
    import org.apache.spark.sql.functions._
    val bad = queries.Analytics2.q24(spark, sf)
      .filter(col("clicked_at") > col("ts")).count()
    assert(bad == 0)
  }
}
