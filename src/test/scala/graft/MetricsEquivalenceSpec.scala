package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.etl.{Metrics, Normalize}
import graft.model.{Schemas, User, UserId, UserLocation, UserName, UserPicture, UserRegistered}
import graft.sources.MockUserSource

/** `Metrics.compute` (two cross-joined 1-row aggregates) returns exactly
  * the rows and schema of the single-aggregate reference
  * (`MetricsReference`), on dirty corpora and on the edge cases each of
  * its aggregates handles separately.
  */
class MetricsEquivalenceSpec extends SparkSpecBase {

  private def assertSame(df: DataFrame, clue: String): Row = {
    val got = Metrics.compute(df)
    val want = MetricsReference.compute(df)
    assert(got.schema == want.schema, clue)
    val rows = got.collect()
    assert(rows.toSeq == want.collect().toSeq, clue)
    assert(rows.length == 1, clue)
    rows(0)
  }

  private def user(
      key: String,
      first: String = "F",
      email: String = "a@b.c",
      country: String = "USA",
      city: String = "City",
      date: String = "2021-06-01T00:00:00.000Z"
  ): User =
    User(
      UserId(key),
      UserName(first, "L"),
      email,
      "555",
      UserLocation(country, city),
      UserRegistered(date),
      UserPicture("t")
    )

  test("identical rows on randomized dirty corpora") {
    val session = spark
    import session.implicits._
    for (seed <- 1L to 5L)
      assertSame(CleanPropertySpec.genCorpus(seed, 60).toDF(), s"seed $seed")
  }

  test("identical rows on an empty frame") {
    val empty = spark.createDataFrame(new java.util.ArrayList[Row](), Schemas.user)
    val r = assertSame(empty, "empty")
    assert(r.getAs[Long]("rows_in") == 0L)
    assert(r.getAs[Double]("avgRegistrationYears") == 0.0)
    assert(r.isNullAt(r.fieldIndex("lastUser")))
  }

  test("identical rows when no row is valid") {
    val session = spark
    import session.implicits._
    val df = Seq(
      user(null),
      user("k1", email = null),
      user("k2", date = "not-a-date"),
      user("k3", date = null)
    ).toDF()
    val r = assertSame(df, "all invalid")
    assert(r.getAs[Long]("rows_out") == 0L)
    assert(r.getAs[Long]("dedup_removed") == 4L)
  }

  test("identical rows on lastUser ties on ts: the name breaks the tie") {
    val session = spark
    import session.implicits._
    val df = Seq(
      user("k1", first = "Amy"),
      user("k2", first = "Zoe"),
      user("k3", first = "Max"),
      user("k4", first = "Zed", date = "2020-01-01T00:00:00.000Z")
    ).toDF()
    assert(assertSame(df, "ties").getAs[String]("lastUser") == "Zoe L")
  }

  test("identical rows with null country and city") {
    val session = spark
    import session.implicits._
    val df = Seq(
      user("k1", country = null, city = null),
      user("k2", country = null, city = "Oslo"),
      user("k3", country = "Norway", city = null),
      user("k4")
    ).toDF()
    val r = assertSame(df, "null location")
    assert(r.getAs[Long]("countries") == 2L)
    assert(r.getAs[Long]("uniqueCities") == 2L)
  }

  test("identical rows on 60k raw users with duplicate keys, null ids and bad dates") {
    // Row i takes key slot i % keySlots (rows past keySlots repeat keys);
    // slots divisible by nullIdPeriod have a null id.value, whose key is
    // the row's login.uuid after Normalize; i % badDatePeriod == 1 carries
    // an unparseable date.
    val (rows, keySlots, nullIdPeriod, badDatePeriod) = (60000L, 54000L, 20, 10)
    val i = col("id")
    val slot = i % keySlots
    val date = date_format(
      expr(s"timestampadd(DAY, -CAST(id % 3650 AS INT), TIMESTAMP'${MockUserSource.T0}')"),
      MockUserSource.IsoFmt
    )
    val cities = Seq("Oslo", "Lima", "Pune", "Kobe", "Fez", "Nice", "Bern")
    val raw = spark.range(rows).select(
      struct(when(slot % nullIdPeriod === 0, lit(null: String))
        .otherwise(concat(lit("id-"), slot)).as("value")).as("id"),
      struct(concat(lit("uuid-"), i).as("uuid")).as("login"),
      struct(concat(lit("F"), i % 997).as("first"), concat(lit("L"), i).as("last")).as("name"),
      concat(lit("u"), i, lit("@example.com")).as("email"),
      concat(lit("555-"), i).as("phone"),
      struct(
        concat(lit("C"), i % 5).as("country"),
        element_at(typedLit(cities), (i % cities.size + 1).cast("int")).as("city")
      ).as("location"),
      struct(when(i % badDatePeriod === 1, lit("not-a-date")).otherwise(date).as("date"))
        .as("registered"),
      struct(concat(lit("t"), i).as("thumbnail")).as("picture")
    )
    val r = assertSame(raw, "raw")
    assert(r.getAs[Long]("rows_in") == rows)
    assert(r.getAs[Long]("dedup_removed") > 0L)
    assertSame(Normalize(raw), "normalized")
  }
}
