package graft

import java.sql.Timestamp

/** Reference-recompute tests for the round-4 grouping operators:
  * `win_sessionize_batch` (gaps-and-islands) and `agg_mode_freq`
  * (deterministic mode). Both are recomputed independently in plain
  * Scala from the raw events and compared row-for-row — a different
  * algorithm than the declared window/aggregate formulations, so
  * agreement is meaningful (same adversarial-oracle idea as the DuckDB
  * parity gate, but in-JVM).
  */
class SessionizeModeSpec extends SparkSpecBase {

  /** Full-precision microseconds (Timestamp.getTime alone drops the
    * sub-millisecond part the event fixtures carry).
    */
  private def micros(t: Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  private lazy val rawEvents: Array[(Long, Long, Timestamp, Double, String)] = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"ts".cast("timestamp"), $"value", $"event_type")
      .as[(Long, Long, Timestamp, Double, String)].collect()
  }

  test("win_sessionize_batch matches a sequential per-user fold") {
    import spark.implicits._
    val gapMicros = 15L * 60 * 1000000
    val expected = rawEvents
      .groupBy(_._1)
      .flatMap { case (user, evs) =>
        val sorted = evs.sortBy(e => (micros(e._3), e._2)).toList
        val sessions = scala.collection.mutable.ArrayBuffer.empty[List[Long]]
        var prev = Long.MinValue
        for (e <- sorted) {
          val t = micros(e._3)
          if (sessions.nonEmpty && t - prev < gapMicros)
            sessions(sessions.size - 1) = sessions.last :+ t
          else sessions += List(t)
          prev = t
        }
        sessions.zipWithIndex.map { case (s, i) =>
          (user, i + 1L) -> ((s.min, s.max, s.size.toLong))
        }
      }
      .toMap
    val got = operators.Windows.winSessionizeBatch.fn(spark, sfDir)
      .select($"user_id", $"sess_id", $"session_start".cast("timestamp"),
        $"session_end".cast("timestamp"), $"n_events")
      .as[(Long, Long, Timestamp, Timestamp, Long)].collect()
    assert(got.length == expected.size, s"${got.length} sessions vs ${expected.size} expected")
    got.foreach { case (u, sid, st, en, n) =>
      val (est, een, enn) = expected((u, sid))
      assert(micros(st) == est && micros(en) == een && n == enn,
        s"user $u session $sid: got (${micros(st)},${micros(en)},$n) expected ($est,$een,$enn)")
    }
  }

  test("etl_scd2_intervals matches a sequential change-tracking fold") {
    import spark.implicits._
    val expected = rawEvents
      .groupBy(_._1)
      .flatMap { case (user, evs) =>
        val sorted = evs.sortBy(e => (micros(e._3), e._2))
        val changes = sorted.zipWithIndex.filter { case (e, i) =>
          i == 0 || sorted(i - 1)._5 != e._5
        }.map(_._1)
        changes.zipWithIndex.map { case (e, i) =>
          val to = if (i + 1 < changes.length) Some(micros(changes(i + 1)._3)) else None
          (user, i + 1L) -> ((e._5, micros(e._3), to, to.isEmpty))
        }.toSeq
      }
      .toMap
    val got = operators.EtlOps.etlScd2Intervals.fn(spark, sfDir)
      .select($"user_id", $"version", $"event_type",
        $"valid_from".cast("timestamp"), $"valid_to".cast("timestamp"), $"is_current")
      .as[(Long, Long, String, Timestamp, Option[Timestamp], Boolean)].collect()
    assert(got.length == expected.size)
    got.foreach { case (u, v, tpe, from, to, cur) =>
      val (etpe, efrom, eto, ecur) = expected((u, v))
      assert(tpe == etpe && micros(from) == efrom && to.map(micros) == eto && cur == ecur,
        s"user $u version $v: got ($tpe,${micros(from)},${to.map(micros)},$cur) " +
          s"expected ($etpe,$efrom,$eto,$ecur)")
    }
  }

  test("scd2 apply-merge reconstructs the rebuild on new, untouched, and no-op-head users") {
    import spark.implicits._
    // the corpus fixture contains 35 no-op-head users but ZERO brand-new
    // and ZERO untouched users across the cutoff — those merge paths are
    // exercised here on a hand-built frame instead
    def ev(id: Long, u: Long, t: String, tpe: String) =
      (id, Timestamp.valueOf(t), u, tpe, 1.0)
    val rows = Seq(
      // user 1: untouched (pre-cutoff only) — must pass through open
      ev(1, 1, "2024-01-10 00:00:00", "view"),
      ev(2, 1, "2024-01-11 00:00:00", "click"),
      // user 2: no-op head (last pre type == first post type), then a
      // real change — the head must NOT mint a spurious version and the
      // open interval must close at the REAL change, not the head
      ev(3, 2, "2024-01-12 00:00:00", "view"),
      ev(4, 2, "2024-01-21 00:00:00", "view"),
      ev(5, 2, "2024-01-22 00:00:00", "purchase"),
      // user 3: brand-new (post-cutoff only) with a within-batch run
      ev(6, 3, "2024-01-25 00:00:00", "click"),
      ev(7, 3, "2024-01-26 00:00:00", "click"),
      ev(8, 3, "2024-01-27 00:00:00", "error"),
      // user 4: ordinary touched user
      ev(9, 4, "2024-01-05 00:00:00", "signup"),
      ev(10, 4, "2024-01-23 00:00:00", "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select($"user_id", $"version", $"event_type",
          $"valid_from", $"valid_to", $"is_current")
        .collect().map(_.toString).sorted.toSeq
    val merged = operators.EtlOps.scd2ApplyMerge(rows, "2024-01-20")
    val rebuilt = operators.EtlOps.scd2(rows)
    assert(canon(merged) == canon(rebuilt),
      s"apply-merge diverged from the from-scratch rebuild:\n" +
        s"merged:  ${canon(merged)}\nrebuilt: ${canon(rebuilt)}")
    val m = merged.select($"user_id", $"version", $"event_type",
        $"valid_to".cast("string"), $"is_current")
      .as[(Long, Long, String, Option[String], Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(m.size == 8, s"expected 8 version rows, got ${m.size}")
    assert(m((1L, 2L)) == (("click", None, true)), "untouched user must stay open")
    assert(m((2L, 1L))._2.exists(_.startsWith("2024-01-22")),
      "no-op head must not close the open interval; the real change must")
    assert(m((2L, 2L)) == (("purchase", None, true)))
    assert(m((3L, 1L))._1 == "click" && m((3L, 2L))._1 == "error",
      "brand-new user must start at version 1 with within-batch dedup")
    assert(m((4L, 2L)) == (("purchase", None, true)))
  }

  test("join_pit_scd2_bucketed serves exactly the rows of the in-plan join_pit_scd2") {
    // the persisted dim/fact must hold what the in-plan recipe derives
    val inPlan = operators.Joins.joinPitScd2.fn(spark, sfDir).collect().toSeq
    val served = operators.Joins.joinPitScd2Bucketed.fn(spark, sfDir).collect().toSeq
    assert(inPlan.nonEmpty)
    assert(served == inPlan, s"served ${served.length} rows vs in-plan ${inPlan.length}; " +
      s"first difference: ${served.zipAll(inPlan, null, null).find(p => p._1 != p._2)}")
  }

  for ((family, table, corpus, ensure) <- Seq[(String, String, String, () => Any)](
      ("dim", operators.Scd2Dim.dimTable(sfDir), "events",
        () => operators.Scd2Dim.ensure(spark, sfDir)),
      ("registry", operators.ShingleRegistry.registryTable(sfDir), "documents",
        () => operators.ShingleRegistry.ensure(spark, sfDir))))
    test(s"a $family marked by the bare $corpus identity rebuilds under the recipe fingerprint") {
      import operators.Artifacts
      def mtimes: Seq[Long] = Option(Artifacts.tableLoc(spark, table).listFiles).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.lastModified).sorted
      ensure()
      // a marker written before the recipe segment existed: identity only
      val bare = Artifacts.corpusIdentity(sfDir, corpus)
      Artifacts.commitMarker(spark, table, bare)
      val before = mtimes
      assert(before.nonEmpty)
      Thread.sleep(1100) // file mtimes resolve to the second on some filesystems
      ensure()
      val after = mtimes
      val marker = Artifacts.readMarker(spark, table)
      assert(marker != bare && marker.startsWith(s"$bare|"), s"marker $marker")
      assert(after.nonEmpty && after.min > before.max,
        s"$family files not rewritten: before $before, after $after")
    }

  test("agg_mode_freq matches a Scala recompute with lowest-value tiebreak") {
    import spark.implicits._
    val expected = rawEvents
      .groupBy(_._1)
      .map { case (user, evs) =>
        val counts = evs.groupBy(_._5).view.mapValues(_.size.toLong).toMap
        val (mode, cnt) = counts.toSeq.minBy { case (t, c) => (-c, t) }
        user -> ((mode, cnt))
      }
    val got = operators.Aggregations.aggModeFreq.fn(spark, sfDir)
      .as[(Long, String, Long)].collect()
    assert(got.length == expected.size)
    got.foreach { case (u, mode, cnt) =>
      assert(expected(u) == ((mode, cnt)),
        s"user $u: got ($mode,$cnt) expected ${expected(u)}")
    }
  }

  test("etl_gap_fill_locf matches a sequential per-user calendar fold") {
    import spark.implicits._
    val daily = rawEvents.filter(_._5 == "purchase")
      .groupBy(e => (e._1, new java.sql.Date(e._3.getTime).toLocalDate))
      .map { case ((u, d), evs) =>
        (u, d) -> evs.map(e => BigDecimal(e._4).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      }
    val expected = daily.keys.groupBy(_._1).flatMap { case (u, ks) =>
      val d0 = ks.map(_._2).min(Ordering.fromLessThan[java.time.LocalDate](_ isBefore _))
      val d1 = ks.map(_._2).max(Ordering.fromLessThan[java.time.LocalDate](_ isBefore _))
      var last: Option[BigDecimal] = None
      Iterator.iterate(d0)(_ plusDays 1).takeWhile(!_.isAfter(d1)).map { d =>
        val obs = daily.get((u, d))
        if (obs.isDefined) last = obs
        (u, d) -> ((last, obs.isDefined))
      }.toSeq
    }
    val got = operators.EtlOps.etlGapFillLocf.fn(spark, sfDir)
      .select($"user_id", $"day".cast("date"), $"locf_value".cast("decimal(28,6)"), $"observed")
      .as[(Long, java.sql.Date, Option[BigDecimal], Long)].collect()
    assert(got.length == expected.size, s"${got.length} spine rows vs ${expected.size}")
    got.foreach { case (u, day, v, obs) =>
      val (ev, eobs) = expected((u, day.toLocalDate))
      assert(v.map(_.setScale(6)) == ev.map(_.setScale(6)) && (obs == 1L) == eobs,
        s"user $u day $day: got ($v,$obs) expected ($ev,$eobs)")
    }
  }

  test("events: an INT64-nanosecond ts with a sub-µs remainder loads to the fixture's µs rows") {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    // every fixture stores µs timestamps; rewrite ts as nanoseconds since
    // the epoch plus 999 ns, the layout Tables.events truncates back to µs
    val dir = scratchPath("events_ns")
    val nanos = expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)") *
      1000L + 999L
    Tables.events(spark, sfDir).withColumn("ts", nanos).write.parquet(s"$dir/events.parquet")
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType == LongType,
      "the copy must store ts as a plain INT64")
    def rows(d: String): Seq[String] =
      Tables.events(spark, d).select($"event_id", $"ts").collect().map(_.toString).sorted.toSeq
    val fixture = rows(sfDir)
    assert(fixture.nonEmpty)
    assert(rows(dir) == fixture, "the nanosecond copy must load to the same (event_id, ts) rows")
  }
}
