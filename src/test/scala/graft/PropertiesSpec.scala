package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFns
import graft.functions.DotFold.dotFold
import graft.pipeline.CustomerPipeline

/** Property-style laws over ScalaCheck-generated data. Generation is
  * seeded (deterministic) and batched into one DataFrame per law — one
  * Spark job per property instead of one per sample.
  */
class PropertiesSpec extends SparkTestBase {

  private def draw[A](g: Gen[A], n: Int, seed: Long): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("gen failed"))

  // printable-ish unicode strings incl. JSON-hostile chars, no surrogates
  private val hostileString: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar,
    2 -> Gen.oneOf('"', '\\', '\n', '\t', '{', '}', ',', ':', ' ', 'ñ', '中', '€'),
  )).map(_.mkString)

  test("law: from_json ∘ to_json = id on hostile strings and balances") {
    import spark.implicits._
    val rows = draw(
      for {
        nombre <- hostileString; apellido <- hostileString
        dir <- hostileString; tel <- Gen.numStr.map(_.take(15))
        pesos <- Gen.chooseNum(0L, 9999999L); dolares <- Gen.chooseNum(0L, 999999L)
      } yield (nombre, apellido, dir, tel, BigDecimal(pesos, 2), BigDecimal(dolares, 2)),
      200, seed = 42L)
    val df = rows.zipWithIndex
      .map { case ((no, ap, di, te, pe, dl), i) => (i, no, ap, di, te, pe, dl) }
      .toDF("id", "nombre", "apellido", "direccion", "telefono",
        "caja_ahorro_pesos", "caja_ahorro_dolares")
      .select(col("id").cast("int").as("id"), col("nombre"), col("apellido"),
        col("direccion"), col("telefono"),
        col("caja_ahorro_pesos").cast("decimal(10,2)").as("caja_ahorro_pesos"),
        col("caja_ahorro_dolares").cast("decimal(10,2)").as("caja_ahorro_dolares"))
    val back = CustomerPipeline.roundTrip(df).orderBy("id").collect()
    assert(back.toSeq === df.orderBy("id").collect().toSeq)
  }

  test("law: dropDuplicates is idempotent and reaches a fixpoint") {
    import spark.implicits._
    val rows = draw(Gen.chooseNum(0, 30), 500, seed = 7L)
    val df = rows.toDF("x")
    val once = df.dropDuplicates()
    val twice = once.dropDuplicates()
    assert(once.count() === twice.count())
    assert(once.count() === rows.distinct.size.toLong)
  }

  test("law: hash60/hash32 land in range and agree with the oracle's definition") {
    import spark.implicits._
    val strs = draw(hostileString, 300, seed = 11L)
    val out = strs.toDF("s")
      .select(TextFns.hash60(col("s")).as("h60"), TextFns.hash32(col("s")).as("h32"),
        md5(col("s")).as("m"))
      .collect()
    out.foreach { r =>
      val (h60, h32, m) = (r.getLong(0), r.getLong(1), r.getString(2))
      assert(h60 >= 0 && h60 < (1L << 60))
      assert(h32 >= 0 && h32 < (1L << 32))
      assert(h60 === java.lang.Long.parseLong(m.take(15), 16))
      assert(h32 === java.lang.Long.parseLong(m.take(8), 16))
    }
  }

  test("law: n words yield max(0, n-2) 3-shingles, each of 3 words") {
    import spark.implicits._
    val docs = draw(Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.identifier.map(_.take(5))).map(_.mkString(" "))), 200, seed = 13L)
    val out = docs.toDF("text")
      .select(col("text"), TextFns.shingles(TextFns.words(col("text")), 3).as("sh"))
      .collect()
    out.foreach { r =>
      val nWords = r.getString(0).split("\\s+").count(_.nonEmpty)
      val sh = r.getSeq[String](1)
      assert(sh.size === math.max(0, nWords - 2), s"text='${r.getString(0)}'")
      sh.foreach(s => assert(s.split(" ").length === 3))
    }
  }

  test("law: q83's non-overlapping blocks reassemble to the original document") {
    // the reconstruction in q83 is lossless exactly because blocking is a
    // partition of the word sequence: rejoining ALL blocks must give back
    // the text, for any word count — including the ragged tail and the
    // empty document
    import spark.implicits._
    import graft.queries.Curation.BlockW
    val doc = Gen.chooseNum(0, 4 * BlockW + 3).flatMap(n =>
      Gen.listOfN(n, Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString))
        .map(_.mkString(" ")))
    val ws = TextFns.words(col("text"))
    val nBlocks = ceil(size(ws).cast("double") / BlockW).cast("long")
    val blocks = transform(sequence(lit(0L), nBlocks - 1),
      i => array_join(slice(ws, (i * BlockW + 1).cast("int"), lit(BlockW)), " "))
    val bad = draw(doc, 300, seed = 83L).toDF("text")
      .select(col("text"), array_join(blocks, " ").as("re"))
      .filter(col("re") =!= col("text"))
    assert(bad.isEmpty, s"blocks lost content: ${bad.collect().take(3).mkString}")
  }

  test("dotFold on Columns: the value, and NULL on an array length mismatch") {
    def d(a: Seq[Double], b: Seq[Double]) =
      spark.range(1).select(dotFold(typedLit(a), typedLit(b))).head()
    assert(d(Seq(1.0, 2.0), Seq(3.0, 4.0)).getDouble(0) === 11.0)
    // null propagation on length mismatch, matching the HOF fold
    assert(d(Seq(1.0), Seq(1.0, 2.0)).isNullAt(0))
  }

  test("law: DotFold ≡ sequential left fold, bit for bit") {
    import spark.implicits._
    val vecs = draw(Gen.listOfN(16,
      Gen.chooseNum(-1000000, 1000000).map(_ / 1024.0)), 300, seed = 17L)
      .map(_.toArray)
    val pairs = vecs.grouped(2).collect { case List(a, b) => (a, b) }.toList
    val got = pairs.toDF("a", "b")
      .select(dotFold(col("a"), col("b")).as("d")).collect().map(_.getDouble(0))
    val want = pairs.map { case (a, b) =>
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    assert(got.toSeq === want)
  }

  test("law: TopKPairs ≡ row_number window top-k, including score ties") {
    import spark.implicits._
    // scores drawn from a SMALL value set so ties are common — the id
    // tiebreak is what's under test; NaN/-0.0/+0.0 mixed in so the
    // Spark-ordering comparator (NaN greatest, -0.0 == 0.0) is exercised
    // at the k boundary, not just finite distinct values
    val rows = draw(
      for {
        g <- Gen.chooseNum(0L, 20L)
        id <- Gen.chooseNum(0L, 100000L)
        s <- Gen.frequency(
          7 -> Gen.chooseNum(0, 9).map(_ / 10.0),
          1 -> Gen.const(Double.NaN),
          1 -> Gen.const(-0.0),
          1 -> Gen.const(0.0))
      } yield (g, id, s), 2000, seed = 23L).distinct
    val df = rows.toDF("g", "id", "s").repartition(7).cache()
    val viaAgg = df.groupBy(col("g"))
      .agg(graft.functions.TopKPairs.topKPairs(col("s"), col("id"), 3).as("nb"))
      .select(col("g"), posexplode(col("nb")).as(Seq("pos", "nb")))
      .select(col("g"), col("nb.id").as("id"), col("nb.score").as("s"),
        (col("pos") + 1).cast("long").as("rnk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("s").desc, col("id"))
    val viaWindow = df
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("g"), col("id"), col("s"), col("rnk"))
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)
    df.unpersist()
  }
}
