package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Inputs of the pgwire workloads, generated from the seed.
  *
  * The analytic tables of `df_analytics` are not generated: they are a
  * byte copy of the engine's seed-42 test fixture under
  * `perfbench/data/sf<x>/` (checked against `perfbench/data/SHA256SUMS`
  * before every run). */
object Data {
  /** Valid-time starts of the three versions every doc is written with. */
  val VersionStartsUs: Seq[Long] = Seq("2020-01-01", "2020-02-01", "2020-03-01")
    .map(d => java.time.LocalDate.parse(d).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli * 1000L)

  /** The value doc `k` carries in version `j` (0..2) for `seed`. */
  def versionValue(seed: Long, k: Long, j: Int): Long = {
    val x = new java.util.SplittableRandom(seed * 1000003L + k * 31L + j).nextLong()
    math.abs(x % 1000000000L)
  }

  /** Version `j` of docs 0 until `n`: (_id, v, name), with `v` matching
    * [[versionValue]] (same generator, evaluated on the executors). */
  def docsVersion(spark: SparkSession, seed: Long, n: Long, j: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 4).as[Long].mapPartitions(_.map { k =>
      (k, versionValue(seed, k, j), s"doc$k-v$j")
    }).toDF("_id", "v", "name")
  }
}
