package graft.streaming

import graft.{SparkEntry, SparkSpec}

/** Every conf scope of the streaming layer goes through
  * [[StreamQueries.withConf]], and every memory-sink drain drops its
  * view once the result is resolved. A long-lived session must therefore
  * come out of any number of streaming queries with the temp views and
  * the conf it went in with — apart from the two documented pins that
  * `readEventsStream` sets for good (`nanosAsLong`, `timeZone`). Each
  * check runs on a fresh `spark.newSession()`: both counts are
  * session-local, so other suites on the shared SparkContext cannot race
  * them. */
class SessionHygieneSpec extends SparkSpec {

  private val Pins = Set("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone")

  test("drain, AvailableNow, RocksDB, screen and upsert leave views and conf as found") {
    val dir = sf("sf0.001")
    val ns = spark.newSession()
    def views = ns.catalog.listTables().collect().count(_.isTemporary)
    def conf = ns.conf.getAll -- Pins
    // one query per conf-scope kind: memory-sink drain, the AvailableNow
    // drain, a RocksDB state-store query, an incremental screen, the
    // foreachBatch upsert
    val ops = Seq("streaming_candles_1h", "streaming_candles_availablenow",
      "streaming_gap_alarm", "streaming_dsir_weights", "streaming_foreachbatch_upsert")
    val views0 = views
    val conf0 = conf
    val reps = (1 to 2).map { rep =>
      val out = ops.map(q => q -> SparkEntry.queries(q)(ns, dir).collect().toSeq).toMap
      assert(views == views0, s"temp views grew on rep $rep")
      val now = conf
      assert(now == conf0, s"conf changed on rep $rep: " +
        s"added/changed ${(now.toSet -- conf0.toSet).toMap}, " +
        s"removed ${(conf0.keySet -- now.keySet)}")
      out
    }
    // the drains' results outlive their dropped views and deleted
    // checkpoints, and do not depend on the rep
    ops.foreach { q =>
      assert(reps(0)(q).nonEmpty, s"$q returned no rows")
      assert(reps(0)(q) == reps(1)(q), s"$q differs between reps")
    }
  }

  test("withConf restores a prior value and unsets an absent key, also on a throw") {
    val ns = spark.newSession()
    val set = "spark.sql.shuffle.partitions"
    val absent = "spark.sql.streaming.stateStore.providerClass"
    ns.conf.set(set, "7")
    assert(!ns.conf.getAll.contains(absent))

    assert(StreamQueries.withConf(ns, set -> "3", absent -> "x")(
      (ns.conf.get(set), ns.conf.get(absent))) == ("3", "x"))
    assert(ns.conf.get(set) == "7")
    assert(!ns.conf.getAll.contains(absent))

    val thrown = intercept[IllegalStateException] {
      StreamQueries.withConf(ns, set -> "3", absent -> "x") {
        assert(ns.conf.get(set) == "3" && ns.conf.get(absent) == "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage == "body failed")
    assert(ns.conf.get(set) == "7")
    assert(!ns.conf.getAll.contains(absent))
  }
}
