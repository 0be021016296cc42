package graft

import scala.util.Random

import org.apache.spark.sql.Row

import graft.etl.{Clean, Metrics}
import graft.model.{User, UserId, UserLocation, UserName, UserPicture, UserRegistered}

/** The randomized dirty corpus generator, shared with MetricsEquivalenceSpec. */
object CleanPropertySpec {

  def genCorpus(seed: Long, n: Int): Seq[User] = {
    val rnd = new Random(seed)
    (0 until n).map { _ =>
      val key = if (rnd.nextInt(5) == 0) null else "id-" + rnd.nextInt(30)
      val email = if (rnd.nextInt(7) == 0) null else "a@b.c"
      val date = rnd.nextInt(4) match {
        case 0 => "not-a-date"
        case 1 => null
        case _ =>
          java.time.LocalDate
            .of(2020, 1, 1)
            .plusDays(rnd.nextInt(3650))
            .toString + "T00:00:00.000Z"
      }
      val country = Seq(null, "USA", "Canada")(rnd.nextInt(3))
      User(
        UserId(key),
        UserName("F", "L"),
        email,
        "555",
        UserLocation(country, "City"),
        UserRegistered(date),
        UserPicture("t")
      )
    }
  }
}

/** Property-style invariants for the clean/metrics stage over randomized
  * dirty corpora (missing keys/emails, invalid dates, duplicate keys —
  * FIXTURES.md A4), across several fixed seeds.
  */
class CleanPropertySpec extends SparkSpecBase {

  import CleanPropertySpec.genCorpus

  test("rows_out + dedup_removed == rows_in for arbitrary dirty corpora") {
    val session = spark
    import session.implicits._
    for (seed <- 1L to 5L) {
      val users = genCorpus(seed, 60)
      val df = users.toDF()
      val m = Metrics.compute(df).collect()(0)
      val in = m.getAs[Long]("rows_in")
      val out = m.getAs[Long]("rows_out")
      val removed = m.getAs[Long]("dedup_removed")
      assert(in == users.length, s"seed $seed")
      assert(out + removed == in, s"seed $seed")
      assert(Clean(df).count() == out, s"seed $seed: agg vs operator path")
      assert(m.getAs[Long]("countries") <= in, s"seed $seed")
    }
  }

  test("Clean keeps one whole input row per distinct valid key") {
    val session = spark
    import session.implicits._
    for (seed <- 1L to 5L) {
      // Every row gets its own name, phone and thumbnail, so a kept row
      // assembled from fields of two input rows matches no input row.
      val users = genCorpus(seed, 60).zipWithIndex.map { case (u, i) =>
        u.copy(
          name = UserName("F" + i, "L" + i),
          phone = "555-" + i,
          picture = UserPicture("t" + i)
        )
      }
      val df = users.toDF()
      val validRows = Clean.validity(df).collect()
      val out = Clean(df).collect()
      val key = (r: Row) => r.getStruct(0).getString(0)
      val byKey = validRows.groupBy(key)
      assert(out.map(key).toSet == byKey.keySet, s"seed $seed: key set")
      assert(out.length == byKey.size, s"seed $seed: one row per key")
      out.foreach { r =>
        assert(byKey(key(r)).contains(r), s"seed $seed: $r is no input row of its key")
      }
      val rowsOut = Metrics.compute(df).collect()(0).getAs[Long]("rows_out")
      assert(out.length == rowsOut, s"seed $seed: Clean vs rows_out")
    }
  }

  test("avg is unaffected by invalid-date rows (F2 semantics)") {
    val session = spark
    import session.implicits._
    val valid = genCorpus(11L, 40).map(u =>
      u.copy(
        id = UserId("k-" + Random.nextInt()),
        registered = UserRegistered("2021-06-01T00:00:00.000Z")
      )
    )
    val polluted = valid ++ genCorpus(12L, 20).map(
      _.copy(registered = UserRegistered("garbage"))
    )
    val a = Metrics
      .buildMetrics(valid.toDF())
      .collect()(0)
      .getAs[Double]("avgRegistrationYears")
    val b = Metrics
      .buildMetrics(polluted.toDF())
      .collect()(0)
      .getAs[Double]("avgRegistrationYears")
    assert(a == b)
  }
}
