package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ChangeLog, Joins}

class JoinsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val cl = ChangeLog.normalize(Tables.events(spark, TestSpark.Sf)).cache()
  private lazy val orders = Corpus(spark, TestSpark.Sf).orders

  test("asofEnrich picks the latest order at-or-before each event, per key") {
    val points = Joins.orderPoints(orders).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .groupBy(_._1._1)
      .map { case (k, vs) => k -> vs.map { case ((_, t), p) => (t, p) }.sortBy(_._1) }
    val enriched = Joins.asofEnrich(cl, orders).collect()
    val events = cl.select("event_id", "user_id", "ems").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(enriched.length === events.size)
    enriched.foreach { r =>
      val (uid, ems) = events(r.getLong(0))
      val expected = points.get(uid)
        .flatMap(ts => ts.filter(_._1 <= ems).lastOption.map(_._2))
      val got = Option(r.getAs[java.lang.Long]("last_order_cents")).map(_.toLong)
      assert(got === expected, s"event ${r.getLong(0)}")
    }
  }

  test("skewSaltedEnrich equals the plain join and spreads a hot key " +
    "over SaltR reducer keys") {
    import spark.implicits._
    // 90% of events on ONE key — the viral-user shape
    val events = ((1L to 900L).map(i => (7L, i, 10L)) ++
      (901L to 1000L).map(i => (i % 50, i, 20L)))
      .toDF("user_id", "event_id", "value_cents")
    val dim = (0L to 60L).map(k => (k, if (k % 2 == 0) "EVEN" else "ODD"))
      .toDF("c_custkey", "c_mktsegment")
    val salted = Joins.skewSaltedEnrich(events, dim).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val plain = events.join(dim, events("user_id") === dim("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("value_cents").as("s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(salted === plain)
    // the hot key's rows really are spread: distinct (key, salt) pairs
    // for user 7 == SaltR (event_id is dense, so all salts occur)
    val spread = events.where(col("user_id") === 7L)
      .select(pmod(col("event_id"), lit(Joins.SaltR.toLong))).distinct().count()
    assert(spread === Joins.SaltR.toLong)
  }

  test("rangeJoinEvents equals a brute-force inequality count") {
    val got = Joins.rangeJoinEvents(cl, orders).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val evs = cl.select("user_id", "ems").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val brute = orders.select(col("o_orderkey"), col("o_custkey"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("t")).collect()
      .map { r =>
        val n = evs.getOrElse(r.getLong(1), Array.empty[(Long, Long)])
          .count { case (_, ems) =>
            ems >= r.getLong(2) && ems < r.getLong(2) + Joins.RangeWindowMs }
        r.getLong(0) -> n.toLong
      }.toMap
    assert(got === brute)
  }

  test("pitSnapshot: full users x days grid; every probe's state and " +
    "version match a brute per-probe scan incl. delete gaps") {
    val got = Joins.pitSnapshot(cl).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val rows = cl.select("user_id", "ems", "event_id", "op", "value_cents")
      .collect()
    val days = rows.map(_.getLong(1) / Joins.DayMs).distinct
    val users = rows.map(_.getLong(0)).distinct
    assert(got.size === days.length * users.length)
    var (live, deleted, none) = (0, 0, 0)
    for (u <- users; d <- days) {
      val t = (d + 1) * Joins.DayMs - 1
      val prior = rows.filter(r => r.getLong(0) == u && r.getLong(1) <= t)
      val r = got((u, d))
      if (prior.isEmpty) {
        assert(r.getAs[String]("version_state") === "NONE"); none += 1
      } else {
        val last = prior.maxBy(p => (p.getLong(1), p.getLong(2)))
        if (last.getString(3) == "D") {
          assert(r.getAs[String]("version_state") === "DELETED")
          deleted += 1
        } else {
          assert(r.getAs[String]("version_state") === "LIVE")
          assert(r.getAs[Long]("v_event_id") === last.getLong(2))
          assert(r.getAs[Long]("v_value_cents") === last.getLong(4))
          live += 1
        }
      }
    }
    assert(live > 0 && deleted > 0, s"degenerate mix: $live/$deleted/$none")
  }
}
