package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native reimplementation of the reference pipeline's data
  * semantics (SURVEY.md §1–§3): the bank-customers table, the Kafka JSON
  * hop, and the decimal "laundering" round-trip.
  *
  * Reference behavior reproduced (cites into /root/reference):
  *   - Schema: 7 columns, DECIMAL(10,2) balances (dags/etl_dags.py:36-44).
  *   - Produce: row → JSON object with balances lossily cast to float
  *     (dags/etl_dags.py:17-25, float() at :23-24), UTF-8 encoded (:15),
  *     no message key (:26).
  *   - Consume: JSON → row, floats re-rounded into DECIMAL(10,2) by the
  *     sink DDL (dags/etl_dags.py:42-43,47-48) — i.e. HALF_UP at 2dp.
  *   - Export: entire table as ONE JSON array object, not JSON-lines
  *     (dags/etl_dags.py:58-60).
  *
  * Everything is a pure DataFrame→DataFrame function so the semantics are
  * unit-testable without brokers; the Kafka/JDBC connector plumbing lives
  * in [[KafkaIO]]/[[JdbcIO]].
  */
object CustomerPipeline {

  /** At-rest schema (MySQL `clientes`/`processed_customers` shape,
    * dags/etl_dags.py:36-44). Spanish column names follow the executable
    * DAG; the README's English variant is isomorphic (SURVEY.md §0).
    */
  val CustomerSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("nombre", StringType),
    StructField("apellido", StringType),
    StructField("direccion", StringType),
    StructField("telefono", StringType),
    StructField("caja_ahorro_pesos", DecimalType(10, 2)),
    StructField("caja_ahorro_dolares", DecimalType(10, 2)),
  ))

  /** In-flight schema: the producer's dict literal implies numbers for the
    * balances after the float() cast (dags/etl_dags.py:17-25).
    */
  val WireSchema: StructType = StructType(
    CustomerSchema.fields.map {
      case f if f.dataType.isInstanceOf[DecimalType] => f.copy(dataType = DoubleType)
      case f => f
    })

  private val cols = CustomerSchema.fieldNames.toSeq

  /** The [[WireSchema]] projection: balances cast decimal→double. */
  private def wire: Seq[Column] = CustomerSchema.fields.toSeq.map { f =>
    if (f.dataType.isInstanceOf[DecimalType]) col(f.name).cast("double").as(f.name)
    else col(f.name)
  }

  /** E1 produce semantics (P1–P3 → K1): named projection, decimal→double
    * cast, JSON-object-per-row. Output is the Kafka frame shape
    * (key: null — the reference sends unkeyed messages, so no per-entity
    * ordering guarantee; value: UTF-8 JSON).
    */
  def toKafkaFrame(customers: DataFrame): DataFrame =
    customers.select(
      lit(null).cast("binary").as("key"),
      to_json(struct(wire: _*)).cast("binary").as("value"))

  /** E2 consume semantics (P4–P5): JSON parse with the wire schema, then
    * the sink re-round into DECIMAL(10,2) (HALF_UP) that MySQL's column
    * type applied implicitly in the reference.
    */
  def fromKafkaFrame(kafka: DataFrame): DataFrame = {
    val parsed = kafka
      .select(from_json(col("value").cast("string"), WireSchema).as("r"))
      .select(cols.map(c => col(s"r.$c").as(c)): _*)
    parsed.select(CustomerSchema.fields.toSeq.map { f =>
      col(f.name).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** E3 export semantics (K3): the WHOLE table as one JSON array object —
    * faithful to put_object of a single etl_output.json
    * (dags/etl_dags.py:58-60). Returns a 1-row, 1-column frame; by
    * construction this materializes the table on one task, which is the
    * reference's scale ceiling, not ours — use [[exportJsonLines]] for
    * the distributed variant.
    */
  def exportJsonArray(customers: DataFrame): DataFrame = {
    // collect_list does NOT preserve a prior global sort (the single
    // reducer concatenates partition partials in fetch order), so order
    // inside the aggregate: sort_array on array<struct> orders by the
    // first struct field, which is `id`.
    customers
      .agg(to_json(sort_array(collect_list(struct(wire: _*)))).as("json_array"))
  }

  /** The idiomatic, scale-safe export: JSON-lines, written in parallel.
    * Declared delta vs the reference's single-array object (SURVEY.md §2.2
    * K3).
    */
  def exportJsonLines(customers: DataFrame, path: String): Unit =
    customers.write.mode("overwrite").json(path)

  /** S4: seeded synthetic customer generator (data_full.py:16-31 had
    * Faker + uniform balances; here every value is a deterministic
    * function of `id` via md5-derived hashes, so tests and oracles are
    * reproducible without any RNG state). Distributed: spark.range
    * partitions the id space; no driver-side loop.
    */
  def generate(spark: SparkSession, n: Long, partitions: Int = 32): DataFrame = {
    val firstNames = Seq("Maria", "Juan", "Carlos", "Ana", "Lucia", "Pedro", "Sofia", "Diego")
    val lastNames  = Seq("Garcia", "Lopez", "Martinez", "Perez", "Gomez", "Diaz", "Torres", "Ruiz")
    def pick(xs: Seq[String], h: Column): Column =
      element_at(array(xs.map(lit): _*), (h % xs.size).cast("int") + 1)
    def h(salt: String): Column =
      graft.functions.TextFns.hash60(concat(lit(salt), col("id")))
    spark.range(1, n + 1, 1, partitions)
      .select(
        col("id").cast("int").as("id"),
        pick(firstNames, h("fn")).as("nombre"),
        pick(lastNames, h("ln")).as("apellido"),
        concat(h("ad") % 9999 + 1, lit(" Calle "), pick(lastNames, h("ac"))).as("direccion"),
        concat(lit("+54"), lpad((h("ph") % 1000000000L).cast("string"), 10, "0")).as("telefono"),
        ((h("pe") % 10000000L).cast("double") / 100.0).cast(DecimalType(10, 2)).as("caja_ahorro_pesos"),
        ((h("do") % 1000000L).cast("double") / 100.0).cast(DecimalType(10, 2)).as("caja_ahorro_dolares"))
  }

  /** The full E1→E2 hop as one plan (generator/source → wire → sink
    * shape): what the reference does with MySQL+Kafka+MySQL, as a single
    * Catalyst pipeline when run batch, or a readStream→writeStream pair
    * when the frames come from [[KafkaIO]].
    */
  def roundTrip(customers: DataFrame): DataFrame =
    fromKafkaFrame(toKafkaFrame(customers))
}
