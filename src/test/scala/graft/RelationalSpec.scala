package graft

import org.apache.spark.sql.functions._

class RelationalSpec extends SparkTestBase {

  test("every registered query runs and yields a sane result on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n  = df.count()
      assert(n > 0, s"$name returned an empty result on sf0.001")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("every query has an oracle — no rows-only entries remain") {
    // queries and oracleSql are both derived from the registry rows, so
    // their key sets agree by construction; what can still go wrong is a
    // duplicate name (toMap keeps one row and drops the other), a lost
    // row, or an empty oracle string
    val names = SparkEntry.registry.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"registry names declared more than once: $dups")
    assert(names.size === 211)
    val empty = SparkEntry.registry.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"registry rows with an empty oracle: $empty")
  }

  test("no oracle renders a value read before its initializer") {
    // oracle vals are assembled from SQL fragment defs while their object
    // initializes; a fragment that reads a plain val declared further down
    // sees its default instead: a String renders as `null`, a dimension as
    // 0, which turns the 64-dim fold's range(1, 65) into range(1, 1)
    def rendering(p: String => Boolean) = SparkEntry.registry.filter(q => p(q.oracleSql)).map(_.name)
    val nulls = rendering(sql => """\bnull\b""".r.findFirstIn(sql).isDefined)
    assert(nulls.isEmpty, s"oracles rendering an uninitialized String as null: $nulls")
    val empty = rendering(_.contains("range(1, 1)"))
    assert(empty.isEmpty, s"oracles rendering an uninitialized dimension as range(1, 1): $empty")
  }

  test("select rejects an unknown name, naming it, and orders the rest alphabetically") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q22_ngram_jaccard", "q22_ngram_jacard", "q01_nope")))
    assert(e.getMessage.contains("q22_ngram_jacard") && e.getMessage.contains("q01_nope"),
      e.getMessage)
    assert(!e.getMessage.contains("q22_ngram_jaccard"), e.getMessage)
    assert(SparkEntry.select(Seq("q22_ngram_jaccard", "q01_pricing_summary")).map(_.name)
      === Seq("q01_pricing_summary", "q22_ngram_jaccard"))
    assert(SparkEntry.select(Nil).map(_.name) === SparkEntry.registry.map(_.name).sorted)
  }

  test("q01 aggregates lineitem exactly") {
    val rows = queries.Relational.q01PricingSummary(spark, sf).collect()
    assert(rows.length === 6) // 3 returnflags x 2 linestatus minus absent combos
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val base  = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")).count()
    assert(total === base)
  }

  test("q03 top-k is ordered descending") {
    val prices = queries.Relational.q03TopOrders(spark, sf)
      .collect().map(_.getAs[Double]("o_totalprice"))
    assert(prices.length === 10)
    assert(prices.sameElements(prices.sorted(Ordering[Double].reverse)))
  }

  test("q04 emits at most 3 rows per customer, rn dense from 1") {
    val byCust = queries.Relational.q04TopOrdersPerCustomer(spark, sf)
      .groupBy("o_custkey").agg(count(lit(1)).as("n"), min("rn").as("lo"), max("rn").as("hi"))
      .collect()
    byCust.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(n <= 3 && r.getAs[Int]("lo") == 1 && r.getAs[Int]("hi") == n)
    }
  }

  test("q07 set ops exclude customers with finished orders") {
    val out = queries.Relational.q07SetOps(spark, sf).collect().map(_.getLong(0)).toSet
    val finished = Tables.orders(spark, sf).filter(col("o_orderstatus") === "F")
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    assert(out.intersect(finished).isEmpty)
  }

  test("events timestamps are truncated ns->us, not corrupted") {
    val tsRange = Tables.events(spark, sf)
      .agg(min("ts").as("lo"), max("ts").as("hi")).collect()(0)
    val lo = tsRange.getAs[java.sql.Timestamp]("lo")
    assert(lo.toInstant.toString.startsWith("2024-01-"), s"bad ts: $lo")
  }
}
