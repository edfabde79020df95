package graft

import org.apache.spark.sql.functions._

import graft.queries.Layout

/** The storage-layout operators' invariant is that layout is
  * SEMANTICS-FREE: a bucketed or partitioned copy holds exactly the
  * source rows, and every query through a layout equals the same
  * computation off the raw parquet. (The plan-shape payoffs — no
  * shuffle under the bucketed join, PartitionFilters on the pruned
  * scans — are pinned in PlanSpec.)
  */
class LayoutSpec extends SparkTestBase {

  test("bucketed layouts hold exactly the source multiset, one file per bucket") {
    val li  = Tables.lineitem(spark, sf)
    val lib = Layout.bucketedLineitem(spark, sf)
    assert(lib.count() === li.count())
    assert(lib.exceptAll(li).isEmpty, "bucketed copy has rows the source lacks")
    assert(li.exceptAll(lib).isEmpty, "bucketed copy dropped source rows")
    // the repartition-before-write discipline: exactly BucketCount files,
    // so sorted-bucket scans stay sort-free and file counts stay bounded
    assert(lib.inputFiles.length === Layout.BucketCount,
      s"expected ${Layout.BucketCount} bucket files, got ${lib.inputFiles.length}")
  }

  test("q102 equals the identical rollup computed off the raw parquet") {
    val raw = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
      .collect().toSeq
    val got = Layout.q102BucketedJoin(spark, sf).collect().toSeq
    assert(got === raw)
    assert(got.nonEmpty, "fixture has no 'F' orders — test proves nothing")
  }

  test("partitioned events hold every source row; q103 equals the raw computation") {
    val ev  = Tables.events(spark, sf)
    val evp = Layout.partitionedEvents(spark, sf)
    assert(evp.count() === ev.count())
    // re-derive the partition value from the payload ts: every row's
    // directory must agree with its own timestamp
    assert(evp.filter(col("event_date") =!= to_date(col("ts"))).count() === 0L,
      "a row landed in the wrong date partition")

    val raw = ev.withColumn("event_date", to_date(col("ts")))
      .filter(col("event_date").between(
        lit("2024-01-10").cast("date"), lit("2024-01-12").cast("date")))
      .groupBy(col("event_date"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("event_date").cast("timestamp").as("event_date"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("event_date", "event_type")
      .collect().toSeq
    val got = Layout.q103PartitionPruned(spark, sf).collect().toSeq
    assert(got === raw)
    assert(got.nonEmpty, "3-day window matched no events — fixture drifted")
  }

  test("q104 equals the raw mid-month computation and conserves event counts") {
    val raw = Tables.events(spark, sf)
      .filter(dayofmonth(to_date(col("ts"))).between(8, 14))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("event_type")
      .collect().toSeq
    val got = Layout.q104DynamicPruning(spark, sf).collect().toSeq
    assert(got === raw)
    // conservation: the dim join is a pure filter — week slice is a
    // strict subset of the full corpus count
    val total = Tables.events(spark, sf).count()
    val sliced = got.map(_.getAs[Long]("n_events")).sum
    assert(sliced > 0L && sliced < total,
      s"mid-month slice ($sliced of $total) is not a proper subset")
  }

  test("morton interleave: known values, range, and corner cases") {
    import org.apache.spark.sql.functions._
    val got = spark.range(1).select(
      Layout.morton(lit(3), lit(5)).as("a"),   // spread8(3)=5, spread8(5)=17 → 5|34
      Layout.morton(lit(0), lit(0)).as("b"),
      Layout.morton(lit(255), lit(255)).as("c"),
      Layout.morton(lit(255), lit(0)).as("d"),
      Layout.morton(lit(0), lit(255)).as("e")).head()
    assert(got.getInt(0) === 39)
    assert(got.getInt(1) === 0)
    assert(got.getInt(2) === 65535)
    assert(got.getInt(3) === 0x5555)
    assert(got.getInt(4) === 0xAAAA)
  }

  test("q113 equals raw; z-order confines the 2-D box to a minority of files") {
    val raw = Tables.events(spark, sf)
      .filter(col("user_id").between(3, 5) && dayofmonth(col("ts")).between(5, 9))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("event_type")
      .collect().toSeq
    val got = Layout.q113ZorderBox(spark, sf).collect().toSeq
    assert(got === raw)
    assert(got.nonEmpty, "box matched no events — fixture drifted")
    // the skipping claim itself: per file, the (user_id, day) min/max
    // envelope (what parquet footers would carry) must exclude the box
    // for at least half the files — the 2-D tightness only a space-
    // filling curve delivers (a day-only sort leaves user_id full-width
    // in every file and vice versa)
    val z = Layout.zorderedEvents(spark, sf)
    val perFile = z.withColumn("f", input_file_name())
      .withColumn("day", dayofmonth(col("ts")))
      .groupBy(col("f"))
      .agg(min(col("user_id")).as("ulo"), max(col("user_id")).as("uhi"),
        min(col("day")).as("dlo"), max(col("day")).as("dhi"))
      .collect()
    assert(z.count() === Tables.events(spark, sf).count(),
      "z-layout lost or duplicated rows")
    val total = perFile.length
    val hit = perFile.count { r =>
      r.getAs[Long]("ulo") <= 5L && r.getAs[Long]("uhi") >= 3L &&
      r.getAs[Int]("dlo") <= 9 && r.getAs[Int]("dhi") >= 5
    }
    assert(total >= 8, s"only $total files — too few to demonstrate skipping")
    assert(hit * 2 <= total,
      s"box envelope intersects $hit of $total files — the curve is not clustering")
  }

  test("clearMemos round-trip: layouts rebuild into fresh files and answer identically") {
    // the in-session rewrite protocol (Layout class doc): clearMemos is
    // the one invalidation — the next consumer must rebuild the layout
    // from the sf dir, into files of its own, and answer exactly as before
    val before = Layout.q102BucketedJoin(spark, sf).collect().toSeq
    val oldFiles = Layout.bucketedLineitem(spark, sf).inputFiles.toSet
    graft.queries.Dedup.clearMemos()
    val after = Layout.q102BucketedJoin(spark, sf).collect().toSeq
    assert(after === before, "rebuilt layout diverged from the original")
    val rebuilt = Layout.bucketedLineitem(spark, sf).inputFiles
    assert((rebuilt.toSet & oldFiles).isEmpty, "clearMemos did not rebuild the layout")
    assert(rebuilt.length === Layout.BucketCount,
      "rebuild lost the one-file-per-bucket discipline")
  }

  test("q134: the compaction plan is the exact target-aligned re-chunking of every partition") {
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars")))
    // replay the target-aligned chunking rule in memory: walk each
    // partition in id order, bin = floor(exclusive running total / target)
    val expect = docs.groupBy(_._1).iterator.flatMap { case (src, g) =>
      var cum = 0L
      g.sortBy(_._2).map { case (_, id, n) =>
        val bin = cum / Layout.CompactTarget
        cum += n
        ((src, bin), (id, n))
      }
    }.toSeq.groupBy(_._1).map { case ((src, bin), xs) =>
      val items = xs.map(_._2)
      (src, bin, items.size.toLong, items.map(_._2).sum,
        items.map(_._1).min, items.map(_._1).max)
    }.toSet
    val got = Layout.q134CompactionPlan(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("bin"),
        r.getAs[Long]("n_inputs"), r.getAs[Long]("out_chars"),
        r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc"))).toSet
    assert(got === expect)
    // the fixture genuinely exercises coalescing: some partition plans
    // multiple output files and some output file coalesces multiple inputs
    assert(got.groupBy(_._1).exists(_._2.size > 1), "no source produced >1 bin")
    assert(got.exists(_._3 > 1L), "no bin coalesced >1 input")
    // conservation: compaction moves every char exactly once
    assert(got.toSeq.map(_._4).sum === docs.map(_._3).sum)
  }
}
