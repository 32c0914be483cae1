package graft

import org.apache.spark.sql.functions._

/** `etl_gdpr_delete`'s erasure routine under the adversarial layout
  * the r3 advisor flagged: a bucket whose rows ALL match the erasure
  * request. Dynamic partition overwrite would skip that partition
  * (no output rows → no rewrite) and the stale files would silently
  * survive; [[operators.Etl.gdprErase]] statically overwrites
  * every hit bucket, so the erasure must hold even when a bucket's
  * survivor set is empty. */
class GdprEraseSpec extends SparkTestBase {

  test("a fully-deleted bucket is actually erased, not skipped") {
    import spark.implicits._
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_gdpr_spec_${spark.sparkContext.applicationId}"
    // bucket = user_id % 16. Bucket 3 contains ONLY user 3 (all rows
    // deleted); bucket 5 mixes deleted user 5 with survivor user 21.
    val rows = Seq(
      (1L, 3L, "a", 1.0), (2L, 3L, "b", 2.0),   // bucket 3, all user 3
      (3L, 5L, "a", 3.0), (4L, 21L, "b", 4.0),  // bucket 5, mixed
      (5L, 8L, "a", 5.0)                         // bucket 8, untouched
    ).toDF("event_id", "user_id", "event_type", "value")
      .withColumn("bucket", pmod(col("user_id"), lit(16)))
    rows.write.mode("overwrite").partitionBy("bucket").parquet(path)

    operators.Etl.gdprErase(spark, path, Seq(3L, 5L))

    val back = spark.read.parquet(path)
    // every row of the erased users is gone — including bucket 3,
    // whose survivor set was empty
    assert(back.filter(col("user_id").isin(3L, 5L)).count() == 0,
      "stale rows for erased users survived the rewrite")
    // survivors in hit and untouched buckets are intact
    assert(back.filter(col("user_id") === 21L).count() == 1)
    assert(back.filter(col("user_id") === 8L).count() == 1)
    assert(back.count() == 2)
  }

  test("NULL user_id rows in a hit bucket survive the erasure") {
    import spark.implicits._
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_gdpr_null_${spark.sparkContext.applicationId}"
    // a NULL-user row physically lands in bucket 5 alongside deleted
    // user 5: the three-valued `NOT IN` trap would erase it too
    val rows = Seq(
      (1L, Some(5L), "a", 1.0), (2L, None, "b", 2.0), (3L, Some(21L), "a", 3.0)
    ).toDF("event_id", "user_id", "event_type", "value")
      .withColumn("bucket", coalesce(pmod(col("user_id"), lit(16)), lit(5L)))
    rows.write.mode("overwrite").partitionBy("bucket").parquet(path)

    operators.Etl.gdprErase(spark, path, Seq(5L))

    val back = spark.read.parquet(path)
    assert(back.filter(col("user_id") === 5L).count() == 0)
    assert(back.filter(col("user_id").isNull).count() == 1,
      "NULL-user bystander row was erased by the NOT IN null trap")
    assert(back.filter(col("user_id") === 21L).count() == 1)
  }
}
