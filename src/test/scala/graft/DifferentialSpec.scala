package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.queries.Det

/** Randomized DIFFERENTIAL tests: distributed operators vs naive
  * in-memory references on generated inputs (fixed seeds — reproducible,
  * never flaky). The fixture battery proves each operator on one
  * realistic corpus; these prove the SEMANTICS on corners the fixtures
  * can't reach (adversarial magnitudes, arbitrary partitionings, random
  * duplicate structure), with the reference implemented independently —
  * a second algorithm, not a replay of the Spark plan. */
class DifferentialSpec extends SparkSuite {
  import spark.implicits._

  private def cases[A](gen: Gen[A], n: Int = 5): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(1311L + i)))

  // ---------------------------------------------------------------- dsum

  test("differential: Det.dsum equals an exact BigDecimal fold and is partition-invariant at adversarial magnitudes") {
    // magnitudes from micro-cents to 1e11 in one list — the decimal→
    // double class the sf1 gate caught lives exactly here
    val v: Gen[Double] = Gen.oneOf(
      Gen.chooseNum(-999999L, 999999L).map(_ / 1e6),
      Gen.chooseNum(-999999999L, 999999999L).map(_ / 1e3),
      Gen.chooseNum(-99999999999L, 99999999999L).map(_.toDouble))
    cases(Gen.listOfN(300, v)).foreach { xs =>
      val expected = xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      for (parts <- Seq(1, 7, 32)) {
        val got = xs.toDF("x").repartition(parts)
          .agg(Det.dsum(col("x")).as("s")).collect()(0).getDouble(0)
        assert(java.lang.Double.doubleToLongBits(got) ==
          java.lang.Double.doubleToLongBits(expected),
          s"dsum($parts partitions) = $got, BigDecimal reference = $expected")
      }
    }
  }

  // ------------------------------------------------------------ ivfTrain

  test("differential: ivfTrain's model (amax + integer-Lloyd centroids) is bit-identical under any partitioning") {
    val vec: Gen[Seq[Float]] =
      Gen.listOfN(16, Gen.chooseNum(-1000, 1000).map(_ / 250.0f)).map(_.toSeq)
    cases(Gen.listOfN(60, vec), n = 3).foreach { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val models = Seq(df.coalesce(1), df.repartition(7, col("vec_id")), df.repartition(13))
        .map(d => graft.ops.VectorSearch.ivfTrain(spark, d, "vec_id", "embedding",
          kLists = 4, iters = 2))
      for (m <- models.tail) {
        assert(m.amaxVal == models.head.amaxVal, "amax diverged across partitionings")
        assert(m.cents.length == models.head.cents.length)
        m.cents.zip(models.head.cents).foreach { case ((ca, na), (cb, nb)) =>
          assert(na == nb && ca.sameElements(cb),
            "Lloyd centroid sums diverged across partitionings")
        }
      }
    }
  }

  // ---------------------------------------------------------- cosineTopK

  test("differential: cosineTopK matches a naive in-memory ranking on random vectors") {
    val vec: Gen[Array[Float]] =
      Gen.listOfN(12, Gen.chooseNum(-1000, 1000).map(_ / 333.0f)).map(_.toArray)
    cases(Gen.listOfN(50, vec), n = 3).foreach { vs =>
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      val corpus = rows.toDF("vec_id", "embedding")
      val queries = corpus.filter(col("vec_id") < 5)
      val k = 8
      val got = graft.ops.VectorSearch
        .cosineTopK(spark, corpus, queries, "vec_id", "embedding", k)
        .orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val want = (0L until 5L).flatMap { q =>
        vs.indices.filter(_.toLong != q)
          .map(c => (q, c.toLong, cos(vs(q.toInt), vs(c.toInt))))
          .sortBy { case (_, id, c) => (-c, id) }
          .take(k)
      }
      assert(got.length == want.length)
      got.zip(want).foreach { case ((gq, gid, gc), (wq, wid, wc)) =>
        assert(gq == wq && gid == wid, s"ranking diverged: got ($gq,$gid), want ($wq,$wid)")
        assert(math.abs(gc - wc) < 1e-12, s"cosine diverged: $gc vs $wc")
      }
    }
  }

  // ---------------------------------------------------------- greedyPack

  test("differential: greedyPack matches a sequential replay and is partition-invariant") {
    val doc: Gen[(Int, Int)] = Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(1, 12))
    cases(Gen.zip(Gen.listOfN(80, doc), Gen.chooseNum(5L, 25L)), n = 4).foreach {
      case (docs, budget) =>
        val rows = docs.zipWithIndex.map { case ((shard, nTok), i) =>
          (i.toLong, s"shard$shard", Seq.fill(nTok)("w").mkString(" ")) }
        val df = rows.toDF("id", "shard", "text")
        def run(d: org.apache.spark.sql.DataFrame) =
          graft.ops.Packing.greedyPack(d, "id", "text", "shard", budget)
            .orderBy("shard", "id")
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
        val got = run(df)

        // sequential replay: per shard in id order, same greedy rules
        val want = rows.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (sh, ds) =>
          var pack = 0L; var fill = 0L
          ds.sortBy(_._1).map { case (id, _, text) =>
            val t = text.split("\\s+").length.toLong
            if (t > budget) {
              val assigned = if (fill > 0) pack + 1 else pack
              pack = assigned + 1; fill = 0
              (sh, id, t, assigned, 0L, true)
            } else {
              if (fill + t > budget) { pack += 1; fill = 0 }
              val out = (sh, id, t, pack, fill, false)
              fill += t
              out
            }
          }
        }
        assert(got == want, "greedyPack diverged from the sequential replay")

        // invariants: every doc exactly once; no non-oversize pack over budget
        assert(got.map(_._2).sorted == rows.map(_._1).sorted, "doc set changed")
        got.groupBy(r => (r._1, r._4)).foreach { case ((sh, p), members) =>
          if (!members.exists(_._6))
            assert(members.map(_._3).sum <= budget, s"pack ($sh,$p) over budget")
          else assert(members.size == 1, s"oversize doc shares pack ($sh,$p)")
        }

        // partition-invariance: shuffled input, different partitioning
        val got2 = run(df.repartition(7, col("id")))
        assert(got2 == got, "greedyPack output depends on input partitioning")
    }
  }

  // -------------------------------------------------------- spanCoverage

  test("differential: spanCoverage matches a brute-force interval-union reference") {
    val n = 3; val minDf = 2
    val word: Gen[String] = Gen.oneOf("a", "b", "c", "d", "e")
    val text: Gen[String] = Gen.chooseNum(3, 20)
      .flatMap(len => Gen.listOfN(len, word)).map(_.mkString(" "))
    cases(Gen.listOfN(25, text), n = 4).foreach { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.ops.TextDedup
        .spanCoverage(rows.toDF("doc_id", "text"), "doc_id", "text", n = n, minDf = minDf)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue,
          r.getAs[Number](2).longValue)).toSeq

      // reference: true token n-grams (no hashing), df over distinct
      // docs, covered = |union of [pos, pos+n) over shared-gram starts|
      val toks = rows.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }.toMap
      val grams = toks.view.mapValues(ts => ts.sliding(n).filter(_.size == n)
        .map(_.mkString(" ")).toVector).toMap
      val df = grams.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
      val want = rows.map { case (id, _) =>
        val starts = grams(id).zipWithIndex.collect {
          case (g, p) if df(g) >= minDf => p }
        val covered = starts.flatMap(p => p until p + n).distinct.size.toLong
        (id, toks(id).size.toLong, covered)
      }
      assert(got == want, "spanCoverage diverged from the brute-force union")
    }
  }

  // ------------------------------------------------------------ asofJoin

  test("differential: Joins.asofJoin matches a naive nested-loop reference on random timelines") {
    val row: Gen[(Int, Int)] = Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(0, 50))
    cases(Gen.zip(Gen.listOfN(60, row), Gen.listOfN(12, row)), n = 4).foreach {
      case (pts, anchors0) =>
        // unique (key, t) anchors: duplicate anchor times are documented
        // as needing extraOrder, not exercised here
        val anchors = anchors0.distinct.zipWithIndex
          .map { case ((k, t), i) => (k, t, 1000L + i) }
        val left = pts.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
          .toDF("id", "k", "t")
        val right = anchors.toDF("k", "t", "payload")
        val got = graft.ops.Joins.asofJoin(left, right, keys = Seq("k"),
            leftTime = "t", rightTime = "t",
            extraOrder = Seq(col("id").asc_nulls_first))
          .select("id", "k", "t", "payload")
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3))))
          .sortBy(_._1).toSeq
        val want = pts.zipWithIndex.map { case ((k, t), i) =>
          val best = anchors.filter(a => a._1 == k && a._2 <= t)
            .sortBy(a => (a._2, a._3)).lastOption
          (i.toLong, k, t, best.map(_._3))
        }
        assert(got == want, "asofJoin diverged from the nested-loop reference")
        // partition invariance
        val got2 = graft.ops.Joins.asofJoin(
            left.repartition(7, col("id")), right.repartition(3), keys = Seq("k"),
            leftTime = "t", rightTime = "t",
            extraOrder = Seq(col("id").asc_nulls_first))
          .select("id", "k", "t", "payload")
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3))))
          .sortBy(_._1).toSeq
        assert(got2 == got, "asofJoin output depends on input partitioning")
    }
  }

  test("differential: asofJoin is row-atomic and preserves genuine NULL payload values") {
    // anchors carry TWO payload columns, one often NULL: the winning
    // anchor row must deliver BOTH its values (including the NULL) —
    // never a per-column mix of different anchors (the pre-struct
    // implementation substituted an OLDER anchor's value for a NULL)
    val pt: Gen[(Int, Int)] = Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(0, 50))
    val anc: Gen[(Int, Int, Option[Long])] = Gen.zip(
      Gen.chooseNum(0, 2), Gen.chooseNum(0, 50),
      Gen.oneOf(Some(1L), Some(2L), None, None))
    cases(Gen.zip(Gen.listOfN(50, pt), Gen.listOfN(15, anc)), n = 4).foreach {
      case (pts, anchors0) =>
        val anchors = anchors0.distinctBy(a => (a._1, a._2)).zipWithIndex.map {
          case ((k, t, p1), i) => (k, t, p1, s"tag_$i")
        }
        val left = pts.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
          .toDF("id", "k", "t")
        val right = anchors.toDF("k", "t", "p1", "p2")
        def run(l: org.apache.spark.sql.DataFrame,
                r: org.apache.spark.sql.DataFrame) =
          graft.ops.Joins.asofJoin(l, r, keys = Seq("k"),
              leftTime = "t", rightTime = "t",
              extraOrder = Seq(col("id").asc_nulls_first))
            .select("id", "k", "t", "p1", "p2")
            .collect()
            .map(r0 => (r0.getLong(0), r0.getInt(1), r0.getInt(2),
              if (r0.isNullAt(3)) None else Some(r0.getLong(3)),
              Option(r0.getString(4))))
            .sortBy(_._1).toSeq
        val got = run(left, right)
        val want = pts.zipWithIndex.map { case ((k, t), i) =>
          // anchors are unique on (k, t), so time alone picks the winner
          val best = anchors.filter(a => a._1 == k && a._2 <= t)
            .sortBy(_._2).lastOption
          (i.toLong, k, t, best.flatMap(_._3), best.map(_._4))
        }
        assert(got == want,
          "asofJoin mixed payload rows or dropped a NULL payload value")
        assert(run(left.repartition(5, col("id")), right.repartition(3)) == got,
          "asofJoin null-payload output depends on partitioning")
    }
  }

  // ------------------------------------------------------- funnelStages

  test("differential: Funnel.funnelStages matches a greedy subsequence fold on random event logs") {
    val steps = Seq("s1", "s2", "s3")
    val ev: Gen[(Int, Int, String)] = Gen.zip(Gen.chooseNum(0, 4),
      Gen.chooseNum(0, 30), Gen.oneOf("s1", "s2", "s3", "x", "y"))
    cases(Gen.listOfN(120, ev), n = 5).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, t, ty), i) =>
        (u.toLong, t.toLong, i.toLong, ty) }
      def run(d: org.apache.spark.sql.DataFrame) =
        graft.ops.Funnel.funnelStages(d,
            "user_id", "ts", "event_id", "event_type", steps)
          .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
      val df = rows.toDF("user_id", "ts", "event_id", "event_type")
      val got = run(df)
      val want = rows.groupBy(_._1).toSeq.map { case (u, es) =>
        var st = 0
        es.sortBy(e => (e._2, e._3)).foreach { e =>
          if (st < steps.length && e._4 == steps(st)) st += 1 }
        (u, st)
      }.sortBy(_._1)
      assert(got == want, "funnelStages diverged from the greedy fold")
      assert(run(df.orderBy(col("event_id").desc).repartition(7)) == got,
        "funnelStages depends on input order/partitioning")
    }
  }

  // -------------------------------------------------------- scd2History

  test("differential: DimOps.scd2History matches a sequential fold on random histories (incl. null attrs, date ties)") {
    // few keys/dates/values → dense ties and repeated attrs; ~1/6 nulls
    val ev: Gen[(Int, Int, Option[String])] = Gen.zip(
      Gen.chooseNum(0, 2), Gen.chooseNum(1, 8),
      Gen.oneOf(Some("a"), Some("b"), Some("c"), Some("a"), Some("b"), None))
    cases(Gen.listOfN(60, ev), n = 5).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((k, d, v), i) =>
        (k.toLong, java.sql.Date.valueOf(f"2024-01-$d%02d"), i.toLong, v.orNull) }
      val got = graft.etl.DimOps.scd2History(
          rows.toDF("k", "d", "tie", "attr"),
          keyCol = "k", dateCol = "d", tieCol = "tie", attrCol = "attr")
        .select("k", "tie", "attr", "valid_from", "valid_to", "is_current")
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
          r.getDate(3).toString, r.getDate(4).toString, r.getBoolean(5)))
        .sortBy(t => (t._1, t._4, t._2)).toSeq

      // sequential fold: per key in (date, tie) order, keep transition
      // rows (first always; then null-safe attr inequality), close each
      // interval at the next transition's date
      val want = rows.groupBy(_._1).toSeq.flatMap { case (k, es) =>
        val sorted = es.sortBy(e => (e._2.toString, e._3))
        val trans = sorted.zipWithIndex.filter { case ((_, _, _, v), i) =>
          i == 0 || sorted(i - 1)._4 != v }.map(_._1)
        trans.zipWithIndex.map { case ((_, d, tie, v), i) =>
          val to = if (i + 1 < trans.size) trans(i + 1)._2.toString else "9999-12-31"
          (k, tie, Option(v), d.toString, to, i + 1 == trans.size)
        }
      }.sortBy(t => (t._1, t._4, t._2))
      assert(got == want, "scd2History diverged from the sequential fold")
    }
  }

  // ---------------------------------------------------- range joins

  test("differential: Joins.pointInIntervalJoin matches a nested-loop reference on random numeric ranges") {
    val W = 10L // bin width
    val pt: Gen[Long] = Gen.chooseNum(0L, 200L)
    val iv: Gen[(Long, Long)] =
      Gen.zip(Gen.chooseNum(0L, 190L), Gen.chooseNum(1L, 35L)).map { case (s0, len) => (s0, s0 + len) }
    cases(Gen.zip(Gen.listOfN(80, pt), Gen.listOfN(15, iv)), n = 4).foreach {
      case (pts, ivs) =>
        val points = pts.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("pid", "p")
        val intervals = ivs.zipWithIndex.map { case ((s0, e0), i) => (100L + i, s0, e0) }
          .toDF("iid", "s", "e")
        val got = graft.ops.Joins.pointInIntervalJoin(points, intervals,
            pointCol = "p", startCol = "s", endCol = "e",
            binOf = p => floor(p / W),
            binsOf = (s0, e0) => sequence(floor(s0 / W), floor((e0 - 1) / W)))
          .select("pid", "iid")
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val want = (for {
          (p, i) <- pts.zipWithIndex
          ((s0, e0), j) <- ivs.zipWithIndex
          if p >= s0 && p < e0
        } yield (i.toLong, 100L + j)).sorted
        assert(got == want, "pointInIntervalJoin diverged from nested loop")
    }
  }

  test("differential: Joins.intervalOverlapJoin matches a nested-loop reference on random numeric ranges") {
    val W = 10L
    val iv: Gen[(Long, Long)] =
      Gen.zip(Gen.chooseNum(0L, 150L), Gen.chooseNum(1L, 40L)).map { case (s0, len) => (s0, s0 + len) }
    cases(Gen.zip(Gen.listOfN(20, iv), Gen.listOfN(20, iv)), n = 4).foreach {
      case (as, bs) =>
        val a = as.zipWithIndex.map { case ((s0, e0), i) => (i.toLong, s0, e0) }
          .toDF("a_id", "a_s", "a_e")
        val b = bs.zipWithIndex.map { case ((s0, e0), i) => (100L + i, s0, e0) }
          .toDF("b_id", "b_s", "b_e")
        val got = graft.ops.Joins.intervalOverlapJoin(a, b,
            aStart = "a_s", aEnd = "a_e", bStart = "b_s", bEnd = "b_e",
            binsOf = (s0, e0) => sequence(floor(s0 / W), floor((e0 - 1) / W)))
          .select("a_id", "b_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        val want = (for {
          ((as0, ae0), i) <- as.zipWithIndex
          ((bs0, be0), j) <- bs.zipWithIndex
          if as0 < be0 && bs0 < ae0
        } yield (i.toLong, 100L + j)).sorted
        assert(got == want, "intervalOverlapJoin diverged from nested loop")
    }
  }

  // ------------------------------------------------------- packSequences

  test("differential: packSequences matches a sequential cumulative-offset replay") {
    val doc: Gen[(Int, Int)] = Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(1, 15))
    cases(Gen.zip(Gen.listOfN(70, doc), Gen.chooseNum(4L, 20L)), n = 4).foreach {
      case (docs, budget) =>
        val rows = docs.zipWithIndex.map { case ((shard, nTok), i) =>
          (i.toLong, s"sh$shard", Seq.fill(nTok)("w").mkString(" ")) }
        def run(d: org.apache.spark.sql.DataFrame) =
          graft.ops.Packing.packSequences(d, "id", "text", "shard", budget)
            .select("shard", "id", "n_tokens", "start_off", "first_pack", "n_packs")
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getLong(5)))
            .sortBy(t => (t._1, t._2)).toSeq
        val got = run(rows.toDF("id", "shard", "text"))
        val want = rows.groupBy(_._2).toSeq.flatMap { case (sh, ds) =>
          var off = 0L
          ds.sortBy(_._1).map { case (id, _, text) =>
            val t = text.split("\\s+").length.toLong
            val start = off; off += t
            val first = start / budget
            (sh, id, t, start, first, (start + t - 1) / budget - first + 1)
          }
        }.sortBy(t => (t._1, t._2))
        assert(got == want, "packSequences diverged from the sequential replay")
        assert(run(rows.toDF("id", "shard", "text").repartition(5, col("id"))) == got,
          "packSequences depends on input partitioning")
    }
  }

  // ----------------------------------------------------- cohortRetention

  test("differential: cohortRetention matches a naive per-user week fold") {
    import java.time.{LocalDate, DayOfWeek}
    import java.time.temporal.TemporalAdjusters
    val ev: Gen[(Int, Int)] = Gen.zip(Gen.chooseNum(0, 6), Gen.chooseNum(0, 59))
    cases(Gen.listOfN(80, ev), n = 4).foreach { evs =>
      val base = LocalDate.of(2024, 3, 4) // a Monday
      val rows = evs.map { case (u, d) =>
        (u.toLong, java.sql.Timestamp.valueOf(base.plusDays(d).atStartOfDay())) }
      val got = graft.ops.Funnel.cohortRetention(
          rows.toDF("user_id", "ts"), "user_id", "ts")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq

      def monday(d: LocalDate) = d.`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
      val byUser = rows.groupBy(_._1)
      val cells = byUser.toSeq.flatMap { case (_, es) =>
        val dates = es.map(_._2.toLocalDateTime.toLocalDate)
        val cohort = monday(dates.min)
        dates.map { d =>
          val off = java.time.temporal.ChronoUnit.DAYS.between(cohort, monday(d)) / 7
          (cohort, off)
        }.distinct
      }
      val want = cells.groupBy(identity).toSeq.map { case ((cohort, off), xs) =>
        val us = java.sql.Timestamp.valueOf(cohort.atStartOfDay()).getTime * 1000L
        (us, off, xs.size.toLong)
      }.sortBy(t => (t._1, t._2))
      assert(got == want, "cohortRetention diverged from the naive week fold")
    }
  }

  // --------------------------------------------------------- rfmSegments

  test("differential: rfmSegments matches a naive quintile reference (exact ntile semantics, tie-broken)") {
    import java.time.LocalDate
    val ev: Gen[(Int, Int, Int)] = Gen.zip(Gen.chooseNum(0, 11),
      Gen.chooseNum(0, 40), Gen.chooseNum(1, 9999))
    cases(Gen.listOfN(100, ev), n = 4).foreach { evs =>
      val base = LocalDate.of(2024, 1, 1)
      val rows = evs.map { case (u, d, v) =>
        (u.toLong, java.sql.Timestamp.valueOf(base.plusDays(d).atStartOfDay()),
          v / 100.0) }
      val got = graft.ops.Funnel.rfmSegments(
          rows.toDF("user_id", "ts", "value"), "user_id", "ts", "value")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3), r.getInt(4), r.getInt(5), r.getInt(6), r.getString(7)))
        .sortBy(_._1).toSeq

      // naive: per-user aggregates, then score = 6 - ntile(5) with the
      // documented (metric desc, user asc) order; ntile's first n%5
      // buckets get the extra row
      val per = rows.groupBy(_._1).toSeq.map { case (u, es) =>
        val last = es.map(_._2.getTime).max
        val mon = es.map(e => BigDecimal(e._3).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble
        (u, last, es.size.toLong, mon)
      }
      val n = per.size
      def ntile5(pos: Int): Int = {
        val base5 = n / 5; val rem = n % 5
        var acc = 0
        (1 to 5).find { b =>
          acc += base5 + (if (b <= rem) 1 else 0); pos < acc
        }.get
      }
      def score[A](key: ((Long, Long, Long, Double)) => A, u: ((Long, Long, Long, Double)) => Long)(
          implicit ord: Ordering[A]): Map[Long, Int] =
        per.sortBy(t => (key(t), u(t)))(Ordering.Tuple2(ord.reverse, Ordering.Long))
          .zipWithIndex.map { case (t, p) => t._1 -> (6 - ntile5(p)) }.toMap
      val r = score(_._2, _._1)
      val f = score(_._3, _._1)
      val m = score(_._4, _._1)
      val cmaxDate = LocalDate.ofEpochDay(rows.map(_._2.getTime).max / 86400000L)
      val want = per.sortBy(_._1).map { case (u, last, freq, mon) =>
        val rec = java.time.temporal.ChronoUnit.DAYS.between(
          LocalDate.ofEpochDay(last / 86400000L), cmaxDate).toInt
        (u, rec, freq, mon, r(u), f(u), m(u), s"${r(u)}${f(u)}${m(u)}")
      }
      assert(got == want, "rfmSegments diverged from the naive quintile reference")
    }
  }

  // --------------------------------------------------------- transitions

  test("differential: transitions matches a naive consecutive-pair count") {
    val ev: Gen[(Int, Int, String)] = Gen.zip(Gen.chooseNum(0, 4),
      Gen.chooseNum(0, 25), Gen.oneOf("a", "b", "c"))
    cases(Gen.listOfN(90, ev), n = 4).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, t, ty), i) =>
        (u.toLong, t.toLong, i.toLong, ty) }
      val got = graft.ops.Funnel.transitions(
          rows.toDF("user_id", "ts", "event_id", "event_type"),
          "user_id", "ts", "event_id", "event_type")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      val want = rows.groupBy(_._1).toSeq.flatMap { case (_, es) =>
        es.sortBy(e => (e._2, e._3)).map(_._4).sliding(2)
          .collect { case Seq(a, b) => (a, b) }
      }.groupBy(identity).map { case ((a, b), xs) => (a, b, xs.size.toLong) }
        .toSeq.sortBy(t => (t._1, t._2))
      assert(got == want, "transitions diverged from the naive pair count")
    }
  }

  // --------------------------------------------------------- capPerGroup

  test("differential: capPerGroup equals a naive top-k by (value desc, id asc) per group") {
    val row: Gen[(Int, Int)] = Gen.zip(Gen.chooseNum(0, 3), Gen.chooseNum(0, 20))
    cases(Gen.zip(Gen.listOfN(80, row), Gen.chooseNum(1, 12)), n = 4).foreach {
      case (rowsG, k) =>
        // coarse values force heavy ties -> the (value, id) cutoff matters
        val rows = rowsG.zipWithIndex.map { case ((g, v), i) =>
          (s"g$g", i.toLong, v.toDouble) }
        val got = graft.ops.Curation.capPerGroup(
            rows.toDF("src", "doc_id", "score"), "src", "score", "doc_id", k)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
            r.getInt(3)))
          .sortBy(t => (t._1, t._4)).toSeq
        val want = rows.groupBy(_._1).toSeq.flatMap { case (g, ds) =>
          ds.sortBy(d => (-d._3, d._2)).take(k).zipWithIndex
            .map { case ((_, id, v), i) => (g, id, v, i + 1) }
        }.sortBy(t => (t._1, t._4))
        assert(got == want, s"capPerGroup(k=$k) diverged from naive top-k")
    }
  }

  // --------------------------------------------------------- tokenBudget

  test("differential: tokenBudget equals a sequential best-quality-first fill") {
    val row: Gen[(Int, Int, Int)] = Gen.zip(Gen.chooseNum(0, 2),
      Gen.chooseNum(1, 12), Gen.chooseNum(0, 5))
    cases(Gen.zip(Gen.listOfN(60, row), Gen.chooseNum(5L, 40L)), n = 4).foreach {
      case (rowsG, budget) =>
        val rows = rowsG.zipWithIndex.map { case ((s0, t, q), i) =>
          (s"s$s0", i.toLong, t.toLong, q.toDouble) }
        val got = graft.ops.Curation.tokenBudget(
            rows.toDF("stratum", "doc_id", "n_tokens", "quality"),
            "doc_id", "stratum", col("n_tokens"), col("quality"), budget)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getBoolean(4)))
          .sortBy(t => (t._1, t._2)).toSeq
        val want = rows.groupBy(_._1).toSeq.flatMap { case (s0, ds) =>
          var cum = 0L
          ds.sortBy(d => (-d._4, d._2)).map { case (_, id, t, _) =>
            val before = cum; cum += t
            (s0, id, t, before, before < budget)
          }
        }.sortBy(t => (t._1, t._2))
        assert(got == want, s"tokenBudget($budget) diverged from the greedy fill")
    }
  }

  // -------------------------------------------------------- quantileTrim

  test("differential: quantileTrim bounds match naive interpolated percentiles") {
    val row: Gen[(Int, Int)] = Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(0, 1000))
    cases(Gen.listOfN(70, row), n = 4).foreach { rowsG =>
      val rows = rowsG.zipWithIndex.map { case ((s0, v), i) =>
        (s"s$s0", i.toLong, v.toDouble) }
      val (loQ, hiQ) = (0.05, 0.95)
      val got = graft.ops.Curation.quantileTrim(
          rows.toDF("stratum", "doc_id", "value"),
          "doc_id", "stratum", col("value"), loQ, hiQ)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
        .sortBy(t => (t._1, t._2)).toSeq
      def pct(sorted: Seq[Double], q: Double): Double = {
        val idx = q * (sorted.size - 1)
        val lo = idx.toInt
        if (lo + 1 >= sorted.size) sorted(lo)
        else sorted(lo) + (idx - lo) * (sorted(lo + 1) - sorted(lo))
      }
      val bounds = rows.groupBy(_._1).map { case (s0, ds) =>
        val sorted = ds.map(_._3).sorted
        s0 -> (pct(sorted, loQ), pct(sorted, hiQ))
      }
      got.foreach { case (s0, id, v, lo, hi, kept) =>
        val (wl, wh) = bounds(s0)
        assert(math.abs(lo - wl) < 1e-9 && math.abs(hi - wh) < 1e-9,
          s"bounds for $s0 diverged: ($lo,$hi) vs ($wl,$wh)")
        // boundary values within tolerance of a bound are allowed to
        // disagree only if the engines' last-ulp interpolations differ;
        // everything else must match the naive keep decision
        if (math.abs(v - wl) > 1e-9 && math.abs(v - wh) > 1e-9)
          assert(kept == (v >= wl && v <= wh), s"kept($s0, $id, $v) diverged")
      }
    }
  }

  // ---------------------------------------------------------- minhashLsh

  test("differential: ChangeFeed.diff matches a naive per-key map compare, " +
    "and maintain(prev, feed) equals a recompute — any partitioning, random versions") {
    import graft.etl.{ChangeFeed, IncrementalAgg}
    // random keyed table: unique keys, nullable group AND nullable value
    // columns — the value's Option covers the r14 advisory edge (a group
    // whose every value is NULL must maintain bit-identically, 0 on both
    // paths, not SQL's NULL-on-empty)
    val row: Gen[(Long, Option[String], Option[Double])] = for {
      g <- Gen.option(Gen.oneOf("a", "b", "c"))
      x <- Gen.option(Gen.chooseNum(-99999L, 99999L).map(_ / 100.0))
    } yield (0L, g, x)
    val tbl: Gen[Map[Long, (Option[String], Option[Double])]] =
      Gen.listOfN(40, row).map(_.zipWithIndex.map {
        case ((_, g, x), i) => i.toLong -> ((g, x))
      }.toMap
        // a GUARANTEED all-NULL-sum group (random Options only hit it by
        // luck); mutate() deletes key 200, so its delta carries NULL sums
        ++ (200L to 202L).map(k => k -> ((Some("nullgrp"), None))))
    // v2 = v1 mutated: drop some keys, change some, add some new ones
    def mutate(v1: Map[Long, (Option[String], Option[Double])],
               salt: Int): Map[Long, (Option[String], Option[Double])] =
      v1.filter { case (k, _) => (k + salt) % 5 != 0 && k != 200L }
        .map { case (k, (g, x)) =>
          if ((k + salt) % 3 == 0) k -> ((g.map(_ + "!"), x.map(_ + 1.0)))
          else k -> ((g, x))
        } ++ (100L to 104L).map(k =>
          k -> ((Some("new"), if (k % 2 == 0) Some(salt * 1.5) else None)))
    cases(tbl, n = 3).zipWithIndex.foreach { case (v1, salt) =>
      val v2 = mutate(v1, salt)
      def df(m: Map[Long, (Option[String], Option[Double])], parts: Int) =
        m.toSeq.map { case (k, (g, x)) => (k, g, x) }
          .toDF("id", "g", "x").repartition(parts)
      // naive reference: per-key map compare, second algorithm entirely
      val expected: Set[(Long, Option[String], Option[Double], String)] =
        (v1.keySet ++ v2.keySet).flatMap { k =>
          (v1.get(k), v2.get(k)) match {
            case (None, Some((g, x))) => Seq((k, g, x, "insert"))
            case (Some((g, x)), None) => Seq((k, g, x, "delete"))
            case (Some(a), Some(b)) if a != b =>
              Seq((k, a._1, a._2, "update_preimage"),
                (k, b._1, b._2, "update_postimage"))
            case _ => Nil
          }
        }
      for (parts <- Seq(1, 7)) {
        val got = ChangeFeed.diff(df(v1, parts), df(v2, 9 - parts), Seq("id"))
          .as[(Long, Option[String], Option[Double], String)].collect().toSet
        assert(got === expected, s"diff diverged at $parts partitions")
      }
      // maintenance differential: state(v1) + feed ≡ state(v2) recomputed
      val grp = Seq("g"); val sums = Seq("total" -> "x")
      val maintained = IncrementalAgg.maintain(
        IncrementalAgg.aggregate(df(v1, 7), grp, sums),
        ChangeFeed.diff(df(v1, 3), df(v2, 5), Seq("id")), grp, sums)
        .as[(Option[String], Long, BigDecimal)].collect().toSet
      val recomputed = IncrementalAgg.aggregate(df(v2, 2), grp, sums)
        .as[(Option[String], Long, BigDecimal)].collect().toSet
      assert(maintained === recomputed, "maintained state != recompute")
      // compose differential: the net feed of two consecutive diffs IS
      // the direct diff — insert-then-delete vanishes, revert vanishes,
      // update chains collapse. The third version plants the vanishing
      // cases deliberately: key 100 (inserted by mutate in A→B) is
      // dropped in B→C, and key 1 is forced back to its v1 state (a
      // revert if it survived to v2, a delete-then-reinsert-same if
      // mutate dropped it) — both must produce NO net change rows
      val v3 = mutate(v2, salt + 1) - 100L ++ v1.get(1L).map(s => 1L -> s)
      val composed = ChangeFeed.compose(
        ChangeFeed.diff(df(v1, 2), df(v2, 6), Seq("id")),
        ChangeFeed.diff(df(v2, 4), df(v3, 3), Seq("id")), Seq("id"))
        .as[(Long, Option[String], Option[Double], String)].collect().toSet
      val direct = ChangeFeed.diff(df(v1, 5), df(v3, 7), Seq("id"))
        .as[(Long, Option[String], Option[Double], String)].collect().toSet
      assert(composed === direct, "compose(diff,diff) != direct diff")
      // one version further, through the strict chain fold: the three
      // consecutive feeds pass the consecutiveness check and net to the
      // direct v1 -> v4 diff
      val v4 = mutate(v3, salt + 2)
      val chained = ChangeFeed.composeAll(Seq(
        ChangeFeed.diff(df(v1, 2), df(v2, 6), Seq("id")),
        ChangeFeed.diff(df(v2, 4), df(v3, 3), Seq("id")),
        ChangeFeed.diff(df(v3, 5), df(v4, 2), Seq("id"))), Seq("id"), strict = true)
        .as[(Long, Option[String], Option[Double], String)].collect().toSet
      assert(chained === ChangeFeed.diff(df(v1, 3), df(v4, 6), Seq("id"))
        .as[(Long, Option[String], Option[Double], String)].collect().toSet,
        "composeAll(strict) over three feeds != direct diff")
      // and maintenance over the COMPOSED feed equals the chain's end
      val viaComposed = IncrementalAgg.maintain(
        IncrementalAgg.aggregate(df(v1, 3), grp, sums),
        ChangeFeed.compose(
          ChangeFeed.diff(df(v1, 2), df(v2, 6), Seq("id")),
          ChangeFeed.diff(df(v2, 4), df(v3, 3), Seq("id")), Seq("id")),
        grp, sums)
        .as[(Option[String], Long, BigDecimal)].collect().toSet
      assert(viaComposed === IncrementalAgg.aggregate(df(v3, 2), grp, sums)
        .as[(Option[String], Long, BigDecimal)].collect().toSet,
        "maintain over composed feed != recompute at chain end")
      // applyTo differential: replaying the feed onto its base
      // reconstructs the target version row-for-row — per step, and
      // composed-then-applied across the chain (table replication)
      def rows(m: Map[Long, (Option[String], Option[Double])]) =
        m.toSeq.map { case (k, (g, x)) => (k, g, x) }.toSet
      val applied = ChangeFeed.applyTo(df(v1, 4),
        ChangeFeed.diff(df(v1, 3), df(v2, 6), Seq("id")), Seq("id"),
        strict = true)
        .as[(Long, Option[String], Option[Double])].collect().toSet
      assert(applied === rows(v2), "applyTo(v1, diff(v1,v2)) != v2")
      val replayed = ChangeFeed.applyTo(df(v1, 2),
        ChangeFeed.compose(
          ChangeFeed.diff(df(v1, 2), df(v2, 6), Seq("id")),
          ChangeFeed.diff(df(v2, 4), df(v3, 3), Seq("id")), Seq("id")),
        Seq("id"), strict = true)
        .as[(Long, Option[String], Option[Double])].collect().toSet
      assert(replayed === rows(v3),
        "applyTo over composed feed != chain-end snapshot")
      // extrema differential: min/max maintained by recompute-on-
      // invalidation over a co-maintained replica ≡ a from-scratch
      // recompute at the chain's end — the random mutate() deletes hit
      // group extrema by chance, so both the merge fast path and the
      // invalidation rescan are exercised across the cases
      val eroot = s"/root/repo/target/test-sink/diff_extrema_$salt"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(eroot))
      // alternate the replica's bucket layout across cases: keyed
      // (full-replica rescan) vs group-bucketed (pruned rescan) — the
      // two paths must be indistinguishable in the maintained result,
      // on random data whose bucket column is nullable (hash-of-NULL
      // bucketing exercised)
      val targets = Seq(
        IncrementalAgg.ReplicaSpec("replica", Seq("id"), numBuckets = 4,
          bucketOn = if (salt % 2 == 0) Seq("g") else Nil),
        IncrementalAgg.ExtremaViewSpec("ext", Seq("g"),
          minCols = Seq("min_x" -> "x"), maxCols = Seq("max_x" -> "x"),
          baseReplica = "replica", numBuckets = 4))
      IncrementalAgg.publishInitialMulti(spark, eroot, df(v1, 3), targets)
      assert(IncrementalAgg.applyOnceMulti(spark, eroot,
        ChangeFeed.diff(df(v1, 2), df(v2, 5), Seq("id")), 0L, targets))
      assert(IncrementalAgg.applyOnceMulti(spark, eroot,
        ChangeFeed.diff(df(v2, 3), df(v3, 4), Seq("id")), 1L, targets))
      val extGot = IncrementalAgg.readView(spark, eroot, "ext")
        .as[(Option[String], Long, Option[Double], Option[Double])]
        .collect().toSet
      val extWant = df(v3, 2).groupBy("g").agg(count(lit(1)).as("n"),
        min("x").as("min_x"), max("x").as("max_x"))
        .as[(Option[String], Long, Option[Double], Option[Double])]
        .collect().toSet
      assert(extGot === extWant, "extrema maintained != recompute at chain end")
    }
  }

  test("differential: composeAll over random chains with NULL keys is the " +
    "direct diff as a multiset, lenient and strict; strict rejects a " +
    "substituted feed at its seam; a composed catch-up equals N rounds") {
    import graft.etl.{ChangeFeed, IncrementalAgg}
    import graft.etl.IncrementalAgg.ViewSpec
    val value: Gen[(String, Option[Double])] = for {
      g <- Gen.oneOf("a", "b", "c")
      x <- Gen.option(Gen.chooseNum(-20, 20).map(_ / 4.0))
    } yield (g, x)
    // a version: keys 0..11, each present or not, plus a multiset of
    // NULL-keyed rows drawn with repetition from a three-row pool — so
    // duplicates, and NULL-keyed rows living through several versions
    val version: Gen[Seq[(Option[Int], String, Option[Double])]] = for {
      keyed <- Gen.listOfN(12, Gen.option(value))
      n <- Gen.choose(0, 5)
      nulls <- Gen.listOfN(n, Gen.oneOf(("a", Some(1.0)), ("b", None), ("c", Some(-2.5))))
    } yield keyed.zipWithIndex.collect { case (Some((g, x)), k) => (Some(k), g, x) } ++
      nulls.map { case (g, x) => (None, g, x) }
    // planted on every chain: key 50 is born in v1 and dies in v4, key
    // 51 changes in v1..v3 and reverts in v4 — both net to nothing
    val chains = cases(Gen.listOfN(5, version), n = 3).map(_.zipWithIndex.map {
      case (v, i) =>
        v ++ (if (i > 0 && i < 4) Seq((Some(50), "born", Some(i.toDouble))) else Nil) :+
          ((Some(51), "r", Some(if (i == 0 || i == 4) 5.0 else i.toDouble)))
    })
    def df(v: Seq[(Option[Int], String, Option[Double])]) =
      v.toDF("id", "g", "x").repartition(3)
    def feed(a: Seq[(Option[Int], String, Option[Double])],
             b: Seq[(Option[Int], String, Option[Double])]) =
      ChangeFeed.diff(df(a), df(b), Seq("id"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Option[Int], String, Option[Double], String)].collect().toSeq.sortBy(_.toString)
    val views = Seq(ViewSpec("by_g", Seq("g"), Seq("total" -> "x"), numBuckets = 2))
    def view(root: String) =
      IncrementalAgg.readView(spark, root, "by_g").collect().map(_.toSeq).toSet
    val base = new java.io.File("target/test-sink/diff_compose_nullkeys").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    chains.zipWithIndex.foreach { case (chain, salt) =>
      val feeds = chain.sliding(2).map { case Seq(a, b) => feed(a, b) }.toSeq
      val direct = rows(feed(chain.head, chain.last))
      assert(rows(ChangeFeed.composeAll(feeds, Seq("id"))) === direct,
        s"chain $salt: lenient composeAll != diff(v0, v4)")
      assert(rows(ChangeFeed.composeAll(feeds, Seq("id"), strict = true)) === direct,
        s"chain $salt: strict composeAll != diff(v0, v4)")
      // substitute one feed at random: it starts from, or leads to, a
      // version the chain never held. Every substitute carries an unseen
      // NULL-keyed row, so each is detectable; a random other version
      // breaks some seam touching the substituted feed, and the right
      // version plus that row breaks exactly the NULL-keyed seam p-1|p
      val rnd = new scala.util.Random(salt)
      val p = 1 + rnd.nextInt(feeds.size - 1)
      val fromSide = rnd.nextBoolean()
      val at = if (fromSide) p else p - 1
      def brokenBy(w: Seq[(Option[Int], String, Option[Double])]) =
        intercept[ChangeFeed.BrokenSeam] {
          ChangeFeed.composeAll(
            if (fromSide) feeds.updated(p, feed(w, chain(p + 1)))
            else feeds.updated(p - 1, feed(chain(p - 1), w)), Seq("id"), strict = true)
        }
      val sub = (Option.empty[Int], "sub", Some(9.0))
      val e = brokenBy(chain(rnd.nextInt(chain.size)) :+ sub)
      assert(e.before < e.after && e.before <= at && at <= e.after,
        s"chain $salt: feed $at substituted, seam ${e.before}|${e.after}: ${e.getMessage}")
      val n = brokenBy(chain(p) :+ sub)
      assert((n.before, n.after) === ((p - 1, p)) && n.getMessage.contains("NULL-keyed"),
        s"chain $salt: feed $at substituted, seam ${n.before}|${n.after}: ${n.getMessage}")
      // one composed catch-up equals the batch-by-batch rounds
      val (oneByOne, composed) = (s"$base/c$salt/rounds", s"$base/c$salt/composed")
      Seq(oneByOne, composed).foreach(IncrementalAgg.publishInitialMulti(spark, _,
        df(chain.head), views))
      feeds.zipWithIndex.foreach { case (f, i) =>
        assert(IncrementalAgg.applyOnceMulti(spark, oneByOne, f, i.toLong, views))
      }
      assert(IncrementalAgg.applyComposedMulti(spark, composed,
        feeds.zipWithIndex.map { case (f, i) => i.toLong -> f }, Seq("id"), views,
        strict = true) === feeds.size)
      assert(view(composed) === view(oneByOne),
        s"chain $salt: composed catch-up != ${feeds.size} single rounds")
    }
  }

  test("differential: minhashLsh always pairs exact duplicates and is order/partition-invariant") {
    val word: Gen[String] = Gen.oneOf("red", "blue", "green", "gold", "iron", "clay")
    val text: Gen[String] = Gen.chooseNum(8, 15)
      .flatMap(len => Gen.listOfN(len, word)).map(_.mkString(" "))
    cases(Gen.listOfN(15, text), n = 3).foreach { bases =>
      // ids 0..14 originals; 100+i exact copies of the first 5
      val rows = bases.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
        bases.take(5).zipWithIndex.map { case (t, i) => (100L + i, t) }
      val df = rows.toDF("doc_id", "text")
      def pairs(d: org.apache.spark.sql.DataFrame) =
        graft.ops.TextDedup.minhashLsh(d, "doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = pairs(df)
      (0 until 5).foreach { i =>
        assert(got.contains((i.toLong, 100L + i)),
          s"exact duplicate pair ($i, ${100 + i}) missed")
      }
      got.foreach { case (a, b) => assert(a < b, s"pair ($a,$b) not normalized a<b") }
      val got2 = pairs(df.orderBy(col("doc_id").desc).repartition(5))
      assert(got2 == got, "pair set depends on input order/partitioning")
    }
  }
}
