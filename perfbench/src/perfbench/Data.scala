package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row
  * index), so one seed always yields the same inputs. */
object Data {
  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")
  val Users = 1500
  val Days = 30
  /** 2024-01-01T00:00:00Z in epoch microseconds. */
  val BaseMicros = 1704067200000000L
  val DayMicros = 86400000000L

  /** Uniform [0, 1) from (seed, row, salt). */
  def unif(seed: Long, row: Column, salt: Int): Column =
    pmod(xxhash64(lit(seed), row, lit(salt)), lit(1000000007L)).cast("double") / 1000000007.0

  /** `events` rows shaped like the sf0.1 table: `n` events spread over 30
    * days in id order, 1500 users, five event types, an exponential
    * `value` with two decimals and a small JSON `props` string. */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val spacing = Days * DayMicros / n
    spark.range(n).select(
      id.as("event_id"),
      timestamp_micros(lit(BaseMicros) + id * spacing +
        (unif(seed, id, 1) * spacing).cast("long")).as("ts"),
      (unif(seed, id, 2) * Users).cast("long").as("user_id"),
      element_at(typedLit(EventTypes), (unif(seed, id, 3) * 5).cast("int") + 1)
        .as("event_type"),
      round(-log(lit(1.0) - unif(seed, id, 4)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), (unif(seed, id, 5) * 100).cast("int").cast("string"),
        lit("}")).as("props"))
  }

  // ---- embeddings ----------------------------------------------------------

  val Dim = 64
  val Clusters = 32
  val Spread = 0.5

  private def center(seed: Long, k: Int): Array[Double] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + k)
    Array.fill(Dim)(r.nextGaussian())
  }

  /** One Gaussian-mixture vector: a seeded cluster centre plus N(0, 0.5²)
    * per dimension. */
  def mixtureVector(seed: Long, id: Long): Array[Float] = {
    val r = new java.util.SplittableRandom(seed * 7919L + id * 104729L + 17L)
    val c = center(seed, r.nextInt(Clusters))
    Array.tabulate(Dim)(d => (c(d) + Spread * r.nextGaussian()).toFloat)
  }

  /** A near-duplicate of vector `of`: the same vector plus N(0, 0.01²). */
  def nearDup(seed: Long, of: Long, id: Long): Array[Float] = {
    val r = new java.util.SplittableRandom(seed * 31L + id)
    mixtureVector(seed, of).map(x => (x + 0.01 * r.nextGaussian()).toFloat)
  }

  /** What an embedding stage hands over: `(vec_id long, embedding
    * array<float>)`, computed by a Scala UDF returning `Array[Float]`, so
    * the array type carries containsNull = false. */
  def corpus(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    val embed = udf((id: Long) => mixtureVector(seed, id))
    spark.range(from, until).select(col("id").as("vec_id"), embed(col("id")).as("embedding"))
  }

  /** An ingest batch of ids [from, until): a `dupShare` of rows are near
    * duplicates of stored vectors below `storedBelow`, the rest fresh
    * mixture draws. */
  def ingestBatch(spark: SparkSession, seed: Long, from: Long, until: Long,
      storedBelow: Long, dupShare: Double): DataFrame = {
    val r = new java.util.SplittableRandom(seed * 65537L + from)
    val dups = (from until until).filter(_ => r.nextDouble() < dupShare)
      .map(id => id -> r.nextLong(storedBelow)).toMap
    val bDups = spark.sparkContext.broadcast(dups)
    val embed = udf((id: Long) => bDups.value.get(id) match {
      case Some(of) => nearDup(seed, of, id)
      case None => mixtureVector(seed, id)
    })
    spark.range(from, until).select(col("id").as("vec_id"), embed(col("id")).as("embedding"))
  }
}
