package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{CorpusStats, Dedup, Layout, Retrieval, TrainingData}

/** The snapshot contract for the shared surfaces: the memo is their
  * only reuse, so [[Dedup.clearMemos]] alone makes the next call see the
  * current corpus — including the bucketed and date-partitioned layouts,
  * the durable indexes written as catalog tables and the memos whose
  * computes derive their own inputs from (session, dir) — and a rebuild
  * never disturbs a frame some session resolved earlier.
  */
class SnapshotSpec extends SparkTestBase {

  /** The corpus rewrite: each table keeps a strict, deterministic subset
    * of its rows, so every query below changes its answer. */
  private val rewrites: Seq[(String, Column)] = Seq(
    "lineitem"  -> (col("l_orderkey") % 3 =!= 0),
    "orders"    -> (col("o_orderkey") % 3 =!= 0),
    "events"    -> (col("user_id") % 3 =!= 0),
    "documents" -> (col("doc_id") % 7 =!= 0))

  /** Write the rewritten tables from the read-only source corpus into
    * `dir`, replacing whatever is there. */
  private def writeRewritten(dir: String): Unit = rewrites.foreach { case (t, keep) =>
    spark.read.parquet(s"$sf/$t.parquet").filter(keep)
      .write.mode("overwrite").parquet(s"$dir/$t.parquet")
  }

  /** q102 (bucketed join), q103 (partition pruning), q168 (the durable
    * bucketed BM25 index), q111 (the BPE fold memo) and q192 (the stored
    * shard manifest, split at an id threshold its compute derives from
    * the corpus). */
  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q102" -> Layout.q102BucketedJoin, "q103" -> Layout.q103PartitionPruned,
    "q168" -> Retrieval.q168Bm25Increment, "q111" -> CorpusStats.q111BpeEncode,
    "q192" -> TrainingData.q192ShardIncrement)
  private def answers(s: SparkSession, dir: String): Seq[Seq[Row]] =
    queries.map { case (_, q) => q(s, dir).collect().toSeq }

  test("clearMemos alone re-snapshots layout-backed surfaces; earlier frames still read") {
    val dir = Files.createTempDirectory("graft_snapshot").toString
    rewrites.foreach { case (t, _) =>
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$dir/$t.parquet"))
    }
    val before = answers(spark, dir)
    // frames resolved before the clear, in this session and in a clone
    // (the clone builds its own layouts under its own memo key)
    val liOld = Layout.bucketedLineitem(spark, dir)
    val evOld = Layout.partitionedEvents(spark.newSession(), dir)
    val (liRows, evRows) = (liOld.count(), evOld.count())

    // rewrite the corpus in place; the clear is the only invalidation
    writeRewritten(dir)
    Dedup.clearMemos()
    val after = answers(spark, dir)

    // ground truth: the same queries over the same new data, in a new
    // session and under a directory no memo or layout has ever seen
    val fresh = Files.createTempDirectory("graft_snapshot_fresh").toString
    writeRewritten(fresh)
    val expected = answers(spark.newSession(), fresh)

    queries.map(_._1).zipWithIndex.foreach { case (q, i) =>
      assert(expected(i) !== before(i),
        s"$q: the rewrite did not change the answer — test proves nothing")
      assert(after(i) === expected(i), s"$q: answered from the old corpus after clearMemos")
    }
    assert(liOld.count() === liRows, "a rebuild disturbed a bucketed frame resolved before it")
    assert(evOld.count() === evRows, "a rebuild disturbed a clone's partitioned frame")
  }
}
