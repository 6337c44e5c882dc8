package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{SftPrep, Similarity}

/** Behavior specs for the forty-second-wave operators (q197–q199):
  * PII incidence by role, per-dimension variance audit,
  * latency-by-hour heatmap. */
class Wave42OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("pii by role: counts attributed to the speaker") {
    import spark.implicits._
    val t = Seq(
      ("A", 0, "user", "mail me at bob@example.com or jo@x.org"),
      ("A", 1, "assistant", "sure, calling 555-0199 now"),
      ("A", 2, "assistant", "done"),
      ("B", 0, "user", "no pii here"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val out = SftPrep.piiByRole(t).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out("user") == ((2L, 2L, 0L, 1L, 0.5)))
    assert(out("assistant") == ((2L, 0L, 1L, 1L, 0.5)))
  }

  test("dim variance: constant dim is dead, varying dim is not") {
    import spark.implicits._
    val e = Seq(
      (1L, Seq(1f, 0f), 0), (2L, Seq(1f, 2f), 0),
      (3L, Seq(1f, 4f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.dimVariance(e).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(out(0)._1 == 3L)
    assert(out(0)._2 == 1.0 && out(0)._3 == 0.0) // constant: dead
    assert(out(1)._2 == 2.0)
    // var of {0,2,4} (population) = 8/3
    assert(out(1)._3 == 2.666667)
  }

  test("latency by hour: gaps land in the response turn's cell") {
    import spark.implicits._
    // epoch 0 = Thursday (dow 4); response at 3600000 lands in hour 1
    val t = Seq(
      ("A", 0, "user", 0L),
      ("A", 1, "assistant", 3600000L),      // gap 3.6e6, Thu hour 1
      ("B", 0, "user", 0L),
      ("B", 1, "assistant", 1000L),          // gap 1000, Thu hour 0
      ("B", 2, "tool", 2000L))               // not user→assistant
      .toDF("conv_id", "turn_idx", "role", "ts_ms")
    val out = SftPrep.latencyByHour(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out((4L, 0L)) == ((1L, 1000.0)))
    assert(out((4L, 1L)) == ((1L, 3600000.0)))
    assert(out.size == 2)
  }

  test("hour of week: pre-1970 ts_ms floor-mods into dow 0-6, hour 0-23") {
    import spark.implicits._
    // ts -1 is Wed 1969-12-31 23:59:59.999 (dow 3, hour 23); five days
    // and a millisecond before epoch is Fri 1969-12-26 23:59 (dow 5):
    // a sign-following % gave hour -1 and dow -2 for these
    val fri = -5L * 86400000L - 1L
    val t = Seq(
      ("A", 0, "user", -3600001L),
      ("A", 1, "assistant", -1L),
      ("B", 0, "user", fri - 1000L),
      ("B", 1, "assistant", fri))
      .toDF("conv_id", "turn_idx", "role", "ts_ms")
    val load = SftPrep.hourOfWeekLoad(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lat = SftPrep.latencyByHour(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (cells <- Seq(load.keys, lat.keys); (dow, hour) <- cells) {
      assert(dow >= 0 && dow <= 6, s"dow $dow")
      assert(hour >= 0 && hour <= 23, s"hour $hour")
    }
    assert(load === Map((3L, 22L) -> 1L, (3L, 23L) -> 1L, (5L, 23L) -> 2L))
    assert(lat === Map((3L, 23L) -> 1L, (5L, 23L) -> 1L))
  }
}
