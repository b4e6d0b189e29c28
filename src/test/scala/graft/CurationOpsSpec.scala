package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{CorpusOps, DedupOps, EmbeddingOps}

/** Round-7 curation operators (q55–q59) and the staged verified-pair
  * table. Exact-value correctness is the DuckDB oracle's job
  * (tools/check.py); these specs pin the structural invariants that
  * hold at ANY corpus size plus the staging semantics.
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------- q55 boilerplate chunks

  test("q55: chunk counts tile the token stream; per-mille is bounded") {
    val got = CorpusOps.boilerplateChunks(spark, sf)
      .select("doc_id", "n_chunks", "n_boiler", "boiler_pm")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // independent chunk count: ceil(n_tokens / 5) straight off the table
    val expected = Tables.documents(spark, sf)
      .selectExpr("doc_id",
        "cast(ceil(size(split(text, ' ')) / 5.0) as bigint) AS n")
      .as[(Long, Long)].collect().toMap
    got.foreach { case (d, nc, nb, pm) =>
      assert(nc == expected(d), s"doc $d chunk count")
      assert(nb >= 0 && nb <= nc, s"doc $d boiler count out of range")
      assert(pm >= 0 && pm <= 1000, s"doc $d per-mille out of range")
      assert(pm == nb * 1000 / nc, s"doc $d per-mille arithmetic")
    }
  }

  test("q55: identical texts are fully boilerplate against each other") {
    // every chunk of a doc whose full text occurs in >= 2 docs is by
    // construction shared, so those docs must score boiler_pm == 1000
    val dupDocs = Tables.documents(spark, sf)
      .withColumn("cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
      .where(col("cnt") >= 2).select("doc_id").as[Long].collect().toSet
    if (dupDocs.nonEmpty) {
      val pmByDoc = CorpusOps.boilerplateChunks(spark, sf)
        .select("doc_id", "boiler_pm").as[(Long, Long)].collect().toMap
      dupDocs.foreach(d => assert(pmByDoc(d) == 1000L,
        s"exact-dup doc $d must be 100% boilerplate"))
    }
  }

  // ------------------------------------------------- q56 TF-IDF keywords

  test("q56: per-doc top-k is contiguous, ordered, and arithmetically exact") {
    val rows = CorpusOps.tfidfKeywords(spark, sf)
      .select("doc_id", "term", "tf", "df", "score_ppm", "rank")
      .as[(Long, String, Long, Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, sf).count()
    rows.foreach { case (_, _, tf, df, ppm, _) =>
      assert(df >= 1 && df <= nDocs)
      assert(tf >= 1)
      assert(ppm == tf * 1000000L / df, "integer score arithmetic")
    }
    rows.groupBy(_._1).foreach { case (d, rs) =>
      val ranks = rs.map(_._6).sorted.toSeq
      assert(ranks == (1 to rs.length), s"doc $d ranks not contiguous")
      assert(rs.length <= 3, s"doc $d emitted more than k rows")
      // scores non-increasing in rank order; ties broken by term asc
      val inOrder = rs.sortBy(_._6)
      inOrder.sliding(2).foreach {
        case Array((_, t1, _, _, s1, _), (_, t2, _, _, s2, _)) =>
          assert(s1 > s2 || (s1 == s2 && t1 < t2), s"doc $d rank order broken")
        case _ => ()
      }
    }
  }

  // -------------------------------------------- q57 trigram typicality

  test("q57: occurrence counts reconcile globally and per document") {
    val got = CorpusOps.trigramTypicality(spark, sf)
      .select("doc_id", "n_tris", "freq_mass", "rarest_cnt", "typ_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val lens = Tables.documents(spark, sf)
      .selectExpr("doc_id", "cast(length(text) as bigint) AS l")
      .as[(Long, Long)].collect().toMap
    val total = got.map(_._2).sum // corpus trigram occurrences
    got.foreach { case (d, n, mass, rare, ppm) =>
      assert(n == lens(d) - 2, s"doc $d trigram count")
      assert(rare >= 1, "every occurring trigram occurs at least once")
      assert(mass >= n, "frequency mass is at least one per occurrence")
      assert(mass <= n * total, "mass cannot exceed all-occurrences bound")
      assert(ppm >= 1 && ppm <= 1000000L, s"doc $d ppm out of range: $ppm")
      assert(ppm == mass * 1000000L / (n * total), s"doc $d ppm arithmetic")
    }
  }

  // ----------------------------------------------- q58 epoch shuffle

  test("q58: deterministic, complete, per-shard-contiguous, epoch-decorrelated") {
    val a = CorpusOps.epochShuffle(spark, sf)
      .select("epoch", "doc_id", "shard", "pos")
      .as[(Int, Long, Long, Int)].collect()
    val b = CorpusOps.epochShuffle(spark, sf)
      .select("epoch", "doc_id", "shard", "pos")
      .as[(Int, Long, Long, Int)].collect()
    assert(a.sortBy(r => (r._1, r._2)).toSeq == b.sortBy(r => (r._1, r._2)).toSeq,
      "re-run must reproduce the identical order")
    val nDocs = Tables.documents(spark, sf).count()
    assert(a.length == 2 * nDocs, "every doc appears once per epoch")
    a.groupBy(r => (r._1, r._3)).foreach { case ((e, s), rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1 to rs.length),
        s"epoch $e shard $s positions not contiguous from 1")
    }
    assert(a.forall(r => r._3 >= 0 && r._3 < 16), "shard out of range")
    // epochs must not share an order: the shard+pos assignment of at
    // least one document differs between epoch 0 and epoch 1
    val e0 = a.filter(_._1 == 0).map(r => r._2 -> (r._3, r._4)).toMap
    val e1 = a.filter(_._1 == 1).map(r => r._2 -> (r._3, r._4)).toMap
    assert(e0.exists { case (d, sp) => e1(d) != sp },
      "epoch 1 reproduced epoch 0's order — hash not re-keyed")
  }

  // -------------------------------------------- q59 embedding health

  test("q59: clean corpus reports full dims, finite values, positive norms") {
    val got = EmbeddingOps.embeddingHealth(spark, sf)
      .select("vec_id", "dims", "n_zero", "n_nonfinite", "norm", "degenerate")
      .as[(Long, Int, Int, Int, Double, Int)].collect()
    assert(got.length == Tables.embeddings(spark, sf).count())
    got.foreach { case (id, dims, nz, nf, norm, deg) =>
      assert(dims == EmbeddingOps.dim, s"vec $id dims")
      assert(nz >= 0 && nz <= dims)
      assert(nf == 0, s"vec $id claims non-finite components")
      assert(norm > 0.0, s"vec $id norm must be positive")
      assert(deg == 0, s"vec $id flagged degenerate on a clean corpus")
    }
  }

  test("q59: health census plan is a narrow map — no Exchange") {
    val plan = EmbeddingOps.embeddingHealth(spark, sf)
      .queryExecution.executedPlan.toString
    // the single Exchange allowed is the presentation ORDER BY's range
    // partitioning; nothing else may shuffle
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"health census shuffles more than the sort:\n$plan")
    assert(!plan.contains("Join"), "health census must not join")
  }

  // --------------------------------------------- plan-shape regressions

  test("q55/q56/q57 probe joins are broadcast at test scale — q55/q56 via AQE, q57 by hint") {
    // q57's freq table is charset^3-bounded → broadcast is forced;
    // q55's boilerplate set and q56's vocabulary grow with the corpus
    // → hint-free, and AQE must still pick broadcast at this size
    Seq(
      "q55" -> CorpusOps.boilerplateChunks(spark, sf),
      "q56" -> CorpusOps.tfidfKeywords(spark, sf),
      "q57" -> CorpusOps.trigramTypicality(spark, sf)
    ).foreach { case (name, df) =>
      df.count() // let AQE finalize the adaptive plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"$name lost its broadcast join:\n$plan")
    }
  }

  test("q57 aggregates hash 8-byte trigram keys, never trigram strings") {
    val plan = CorpusOps.trigramTypicality(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("packed_trigrams"),
      s"native trigram packing gone from the plan:\n$plan")
    assert(!plan.contains("substring(text"),
      s"quadratic substring extraction crept back:\n$plan")
  }

  test("packed_trigrams matches the SQL-expr packing, incl. surrogate pairs and nulls") {
    val cases = Seq("abcdef", "ab", "", "héllo wörld", "日本語テスト",
      "a🙂b🙃c", "mixed 日本 and ascii")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val native = df.select(col("id"),
        graft.functions.PackedTrigrams.packed_trigrams(col("text")).as("p"))
      .as[(Long, Seq[Long])].collect().toMap
    val sqlExpr = df
      .withColumn("cp", expr("transform(split(text, ''), ch -> cast(ascii(ch) as bigint))"))
      .selectExpr("id",
        """case when size(cp) < 3 then array()
          |else transform(sequence(1, size(cp) - 2),
          |  i -> shiftleft(element_at(cp, i), 42)
          |     + shiftleft(element_at(cp, i + 1), 21)
          |     + element_at(cp, i + 2)) end AS p""".stripMargin)
      .as[(Long, Seq[Long])].collect().toMap
    cases.indices.foreach { i =>
      assert(native(i.toLong) == sqlExpr(i.toLong),
        s"case '${cases(i)}' diverged: ${native(i.toLong)} vs ${sqlExpr(i.toLong)}")
    }
    // null propagates
    val withNull = Seq((1L, "abc"), (2L, null: String)).toDF("id", "text")
      .select(col("id"), graft.functions.PackedTrigrams.packed_trigrams(col("text")).as("p"))
      .collect()
    assert(!withNull(0).isNullAt(1) && withNull(1).isNullAt(1))
  }

  // ---------------------------------------------- q60 containment pairs

  test("q60: containment arithmetic reconciles against per-doc shingle sets") {
    val rows = DedupOps.containmentPairs(spark, sf)
      .select("doc_a", "doc_b", "na", "nb", "i", "containment")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    // independent shingle sets straight off the table
    def shingles(text: String): Set[String] =
      text.split(" ", -1).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSet
    val byDoc = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (d, t) => d -> shingles(t) }.toMap
    rows.foreach { case (a, b, na, nb, i, c) =>
      assert(a < b, "pairs must be ordered")
      assert(na == byDoc(a).size && nb == byDoc(b).size, s"sizes wrong for ($a,$b)")
      assert(i == byDoc(a).intersect(byDoc(b)).size, s"intersection wrong for ($a,$b)")
      assert(c >= DedupOps.containThreshold && c <= 1.0)
      assert(c == BigDecimal(i * 1.0 / math.min(na, nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble ||
        c == BigDecimal(i * 1.0 / math.min(na, nb))
          .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
    }
  }

  test("q60: a doc fully inside another is caught even when Jaccard is tiny") {
    // synthetic check through the same anchoring logic, via a temp view
    // over a crafted corpus: small doc = rare 12-token run that also
    // appears verbatim inside a much bigger doc
    val rare = (1 to 12).map(i => s"zq$i").mkString(" ")
    val fill = (1 to 300).map(i => s"w${i % 97}").mkString(" ")
    val crafted = Seq(
      (9001L, rare),
      (9002L, s"$fill $rare"),
      (9003L, "completely unrelated text about nothing at all")
    ).toDF("doc_id", "text")
    // jaccard between 9001 and 9002 is ~11/(310+11) << 0.5, so LSH
    // dedup misses it; containment must not
    val pairs = DedupOps.containmentPairsOf(crafted)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists { case (a, b, c) => a == 9001L && b == 9002L && c == 1.0 },
      s"contained doc not caught: ${pairs.mkString(",")}")
    assert(!pairs.exists(p => p._1 == 9003L || p._2 == 9003L),
      "unrelated doc must not pair")
  }

  test("q60: degenerate corpus (1.2k identical docs) produces zero anchors, not n² pairs") {
    // identical docs share every shingle, so each shingle's df is the
    // group size — far above anchorMaxDf. The candidate definition
    // itself refuses the blow-up: no anchors, no pairs, no quadratic
    // join anywhere.
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val degenerate = (1L to 1200L).map(i => (i, text)).toDF("doc_id", "text")
    val pairs = DedupOps.containmentPairsOf(degenerate)
    assert(pairs.count() == 0,
      "identical docs are exact-dedup's job; containment must not pair them")
  }

  // ---------------------------------------------- q61 incremental dedup

  test("q61: every batch doc gets exactly one deterministic verdict") {
    val rows = DedupOps.incrementalDedup(spark, sf)
      .select("doc_id", "verdict", "match_id", "jaccard")
      .as[(Long, String, Long, Double)].collect()
    val batch = Tables.documents(spark, sf)
      .where(expr("doc_id % 10 = 7")).select("doc_id").as[Long].collect().toSet
    assert(rows.map(_._1).toSet == batch, "verdicts must cover the batch exactly")
    assert(rows.length == batch.size, "one verdict per batch doc")
    // exact verdicts reconcile against an independent text-equality probe
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    rows.foreach {
      case (d, "dup_exact", m, j) =>
        assert(m >= 0 && !batch.contains(m), s"doc $d exact match $m not in corpus")
        assert(texts(d) == texts(m), s"doc $d exact match has different text")
        assert(j == 1.0)
      case (d, "dup_near", m, j) =>
        assert(m >= 0 && !batch.contains(m), s"doc $d near match $m not in corpus")
        assert(j >= DedupOps.jaccardThreshold && j <= 1.0)
        // the reported jaccard must reconcile against an INDEPENDENT
        // driver-side shingle computation on the pair's texts
        def shingles(t: String): Set[String] =
          t.split(" ").sliding(2).filter(_.length == 2)
            .map(_.mkString(" ")).toSet
        val (sa, sb) = (shingles(texts(d)), shingles(texts(m)))
        val exactJ = sa.intersect(sb).size.toDouble / sa.union(sb).size
        assert(math.abs(j - BigDecimal(exactJ)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
          s"doc $d near match $m: reported jaccard $j != recomputed $exactJ")
      case (d, "admit", m, j) =>
        assert(m == -1L && j == 0.0, s"admitted doc $d carries a match")
      case (d, v, _, _) => fail(s"doc $d unknown verdict $v")
    }
    // exact text duplicates in the corpus MUST be flagged dup_exact
    val corpusByText = texts.filterNot(kv => batch.contains(kv._1))
      .groupBy(_._2).view.mapValues(_.keys.min).toMap
    val verdictByDoc = rows.map(r => r._1 -> r._2).toMap
    batch.foreach { d =>
      corpusByText.get(texts(d)).foreach { _ =>
        assert(verdictByDoc(d) == "dup_exact",
          s"doc $d has an identical corpus twin but verdict ${verdictByDoc(d)}")
      }
    }
  }

  test("q61: the batch side broadcasts — the corpus band stream never shuffles") {
    val plan = DedupOps.incrementalDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"batch side lost its broadcast:\n$plan")
  }

  // ---------------------------------------------- q62 source overlap

  test("q62: matrix is ordered, positive, and accounts for every dup pair") {
    val m = DedupOps.sourceOverlapMatrix(spark, sf)
      .select("source_a", "source_b", "n_pairs")
      .as[(String, String, Long)].collect()
    assert(m.nonEmpty)
    m.foreach { case (a, b, n) =>
      assert(a <= b, "matrix keys must be ordered")
      assert(n >= 1)
    }
    // total pairs == distinct union of exact + verified near pairs
    val near = DedupOps.jaccardVerify(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val exact = texts.groupBy(_._2).values.filter(_.size > 1)
      .flatMap { g => val k = g.map(_._1).min; g.map(_._1).filter(_ != k).map(k -> _) }
      .toSet
    assert(m.map(_._3).sum == (near ++ exact).size,
      "matrix mass must equal the distinct dup-pair count")
  }

  // ---------------------------------------------- q63 curation funnel

  test("q63: staged funnel plans zero md5 keeper windows (one per corpus, not per report)") {
    // with staging on, both the funnel's keeper column AND the
    // keep-list's exact-drop derive from the staged keeper frame —
    // the corpus-wide md5(text) window must appear in NO window
    // operator of the report's plan (round-7/8 verdict item)
    val root = java.nio.file.Files
      .createTempDirectory("graft_funnel_stage").toString
    DedupOps.withStagingRoot(Some(root)) {
      val plan = CorpusOps.curationFunnel(spark, sf)
        .queryExecution.executedPlan.toString
      val windows = "(?m)^.*Window.*$".r.findAllIn(plan)
        .filter(_.contains("md5")).toSeq
      assert(windows.isEmpty,
        s"funnel still computes an md5 keeper window:\n${windows.mkString("\n")}")
    }
  }

  test("q63: funnel is monotone and each stage agrees with its operator") {
    val f = CorpusOps.curationFunnel(spark, sf)
      .select("stage_idx", "stage", "n_docs")
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(f.map(_._2).toSeq ==
      Seq("raw", "exact_dedup", "near_dedup", "quality", "decontam"))
    f.sliding(2).foreach { case Array((_, s1, n1), (_, s2, n2)) =>
      assert(n2 <= n1, s"funnel grew from $s1 ($n1) to $s2 ($n2)")
    case _ => ()
    }
    val byStage = f.map(x => x._2 -> x._3).toMap
    assert(byStage("raw") == Tables.documents(spark, sf).count())
    assert(byStage("near_dedup") == DedupOps.dedupKeepList(spark, sf).count())
    assert(byStage("decontam") >= 1, "funnel must not collapse to zero")
  }

  // ------------------------------------------------ q65 event funnel

  test("q65: ordered funnel matches a driver-side sequential replay") {
    val f = graft.operators.WindowOps.eventFunnel(spark, sf)
      .select("stage", "n_users", "conv_pm").as[(String, Long, Long)].collect()
    assert(f.map(_._1).toSeq == Seq("view", "click", "purchase"))
    val byStage = f.map(x => x._1 -> x._2).toMap
    assert(byStage("view") >= byStage("click") &&
           byStage("click") >= byStage("purchase"), "funnel must be monotone")
    // independent replay: per user, scan events in time order and walk
    // the state machine view -> click -> purchase
    val events = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts")
      .as[(Long, String, java.sql.Timestamp)].collect()
      .groupBy(_._1)
    var (nv, nc, np) = (0L, 0L, 0L)
    events.foreach { case (_, evs) =>
      var stage = 0
      evs.sortBy(e => (e._3.getTime, e._3.getNanos)).foreach { case (_, t, _) =>
        if (stage == 0 && t == "view") stage = 1
        else if (stage == 1 && t == "click") stage = 2
        else if (stage == 2 && t == "purchase") stage = 3
      }
      if (stage >= 1) nv += 1; if (stage >= 2) nc += 1; if (stage >= 3) np += 1
    }
    assert(byStage("view") == nv && byStage("click") == nc &&
           byStage("purchase") == np,
      s"funnel (${byStage("view")},${byStage("click")},${byStage("purchase")}) " +
        s"!= replay ($nv,$nc,$np)")
  }

  // -------------------------------------------- q66 cohort retention

  test("q66: offset-0 retention is total and later offsets are bounded") {
    val rows = graft.operators.WindowOps.cohortRetention(spark, sf)
      .select("cohort_week", "week_offset", "n_active", "cohort_size", "retention_pm")
      .as[(java.sql.Timestamp, Int, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (cw, rs) =>
      val week0 = rs.find(_._2 == 0)
      // the signup event itself is activity in week 0
      assert(week0.exists(r => r._3 == r._4 && r._5 == 1000L),
        s"cohort $cw week-0 retention must be total: $week0")
      rs.foreach { case (_, off, n, size, pm) =>
        assert(off >= 0 && n >= 1 && n <= size)
        assert(pm == n * 1000 / size && pm <= 1000)
      }
    }
  }

  // ------------------------------------------- q64 exact percentiles

  test("q64: rank-selected percentiles match a driver-side exact sort") {
    val got = graft.operators.RelationalOps.langLengthPercentiles(spark, sf)
      .select("lang", "p25", "p50", "p75", "p100")
      .as[(String, Long, Long, Long, Long)].collect()
    val byLang = Tables.documents(spark, sf)
      .select("lang", "n_chars").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(got.map(_._1).toSet == byLang.keySet)
    got.foreach { case (l, p25, p50, p75, p100) =>
      val v = byLang(l)
      def pick(q: Double): Long = v(math.ceil(q * v.length).toInt - 1)
      assert(p25 == pick(0.25) && p50 == pick(0.5) &&
             p75 == pick(0.75) && p100 == v.last,
        s"lang $l percentiles ($p25,$p50,$p75,$p100) != exact sort")
    }
  }

  test("percentile engines agree on data WITH null values (nulls excluded from ranks)") {
    // r8 ADVICE: the two-phase engine used to count nulls in __n while
    // never selecting them — all three engines must now ignore nulls
    // (percentile_disc semantics) and agree with the exact sort of the
    // non-null values
    import spark.implicits._
    val rows: Seq[(String, Option[Long])] =
      (1L to 50L).map(v => ("g", Some(v))) ++
        Seq.fill(17)(("g", None)) ++
        (1L to 7L).map(v => ("h", Some(v * 10))) :+ (("h", None))
    val df = rows.toDF("grp", "v").repartition(5)
    val qs = Seq(0.25, 0.5, 1.0)
    val R = graft.operators.RelationalOps
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) ->
        qs.indices.map(i => r.getLong(i + 1))).toMap
    val exact = rows.groupBy(_._1).map { case (g, vs) =>
      val v = vs.flatMap(_._2).sorted
      g -> qs.map(q => v(math.ceil(q * v.length).toInt - 1))
    }
    assert(toMap(R.percentilesBy(df, "grp", "v", qs)) == exact)
    assert(toMap(R.percentilesByWindowed(df, "grp", "v", qs)) == exact)
    val bucketed = R.percentilesByBucketed(df, "grp", "v", qs, buckets = 7)
      .collect().map(r => r.getString(0) ->
        qs.indices.map(i => r.getDouble(i + 1).toLong)).toMap
    assert(bucketed == exact)
  }

  test("q64: two-phase rank selection survives a skewed stratum and matches the windowed variant") {
    // one stratum holds 90% of the rows (the shape that serializes the
    // naive per-group window into a single task at 100 TB), values
    // drawn from a small domain so ties are everywhere
    import spark.implicits._
    val rnd = new scala.util.Random(64)
    val rows = (1 to 9000).map(_ => ("big", rnd.nextInt(40).toLong)) ++
      (1 to 800).map(_ => ("mid", rnd.nextInt(200).toLong)) ++
      Seq(("one", 7L))
    val df = rows.toDF("grp", "v").repartition(8)
    val qs = Seq(0.25, 0.5, 0.75, 1.0)
    val two = graft.operators.RelationalOps.percentilesBy(df, "grp", "v", qs)
    val win = graft.operators.RelationalOps
      .percentilesByWindowed(df, "grp", "v", qs)
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.select("grp", "p25", "p50", "p75", "p100")
        .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(toMap(two) == toMap(win))
    // scale shape: the two-phase plan's first aggregate is partial
    // (map-side combine), so the shuffle carries distinct (grp, v)
    // rows — 40 values for the 9000-row stratum, not 9000 rows
    val plan = two.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"),
      s"phase-1 distinct-value count must partial-aggregate before the shuffle:\n$plan")
  }

  // ---------------------------------- q76/q77/q78 subquery-shape plans

  test("q76: min-cost selection keeps ties and the dim chain broadcasts") {
    val df = graft.operators.RelationalOps.minCostSupplier(spark, sf)
    val rows = df.select("p_partkey", "unit_cost")
      .as[(Long, Double)].collect()
    // every surviving row of a part carries the SAME (minimal) cost
    rows.groupBy(_._1).foreach { case (p, rs) =>
      assert(rs.map(_._2).distinct.length == 1, s"part $p kept non-minimal costs")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"supplier/nation/region chain must broadcast:\n$plan")
  }

  test("q77: the nested IN chain compiles to semi joins, never a re-scan") {
    val df = graft.operators.RelationalOps.dominantShippers(spark, sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"IN chains must be semi joins:\n$plan")
    assert("FileScan parquet.*lineitem".r.findAllIn(plan).size == 1,
      s"lineitem must be scanned exactly once:\n$plan")
  }

  test("q78: scalar max over the revenue view costs ONE lineitem scan") {
    val df = graft.operators.RelationalOps.topRevenueSupplier(spark, sf)
    val revs = df.select("total_revenue").as[Double].collect()
    assert(revs.nonEmpty && revs.distinct.length == 1,
      "all returned suppliers must share the single maximal revenue")
    val plan = df.queryExecution.executedPlan.toString
    assert("FileScan parquet.*lineitem".r.findAllIn(plan).size == 1,
      s"the max must attach without re-deriving the aggregate:\n$plan")
  }

  // -------------------------------------- q67/q68 warehouse join plans

  test("q67: top-10 is TakeOrdered, dims broadcast, date filters reach the scan") {
    val df = graft.operators.RelationalOps.shippingPriority(spark, sf)
    assert(df.count() <= 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a heap take, not a global sort:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dims must broadcast:\n$plan")
    val scan = df.queryExecution.sparkPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("l_shipdate"),
      "ship-date predicate must be pushed into the lineitem scan")
  }

  test("q68: six-way join stays broadcast at test scale; revenue ordering is stable") {
    val df = graft.operators.RelationalOps.localSupplierVolume(spark, sf)
    val rows = df.select("n_name", "revenue").as[(String, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._2).toSeq == rows.map(_._2).sortBy(-_).toSeq,
      "revenue must be descending")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"all sides fit broadcast at this scale:\n$plan")
    // rerun must produce the identical ordering (exact decimal revenue)
    val again = graft.operators.RelationalOps.localSupplierVolume(spark, sf)
      .select("n_name", "revenue").as[(String, Double)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("q69: correlated subqueries are decorrelated into joins, never per-row scans") {
    val df = graft.operators.EnrichOps.smallQuantityRevenue(spark, sf)
    assert(df.count() >= 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Subquery"),
      s"correlated subquery survived decorrelation:\n$plan")
    assert(plan.contains("HashAggregate"),
      "per-part aggregate must appear as a real aggregate node")
  }

  test("q70/q71: outer-join histogram keeps zero-order customers; NOT EXISTS plans anti join") {
    val dist = graft.operators.RelationalOps.orderCountDistribution(spark, sf)
      .select("c_count", "custdist").as[(Long, Long)].collect().toMap
    // every customer appears exactly once across the histogram
    assert(dist.values.sum == Tables.customer(spark, sf).count())
    val anti = graft.operators.RelationalOps.dormantCustomers(spark, sf)
    val plan = anti.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must plan an anti join:\n$plan")
    assert(!plan.contains("Subquery"), s"NOT EXISTS survived as a subquery:\n$plan")
    // anti-join result must be disjoint from customers having recent orders
    val dormant = anti.select("c_custkey").as[Long].collect().toSet
    val recent = Tables.orders(spark, sf)
      .where(col("o_orderdate") >= lit("2000-01-01"))
      .select("o_custkey").as[Long].collect().toSet
    assert(dormant.intersect(recent).isEmpty)
  }

  test("q72: two-phase top-k aggregate is bit-identical to the window form") {
    val agg = graft.operators.RelationalOps.topKPerGroupAgg(spark, sf)
      .collect().map(_.toSeq).toSeq
    val win = graft.operators.RelationalOps.topKPerGroup(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(agg == win)
    // the buffer admission check: ties on score break by id asc, a
    // full buffer rejects strictly-worse rows
    val topk = new graft.functions.Aggregators.TopKByScore(2)
    val b = Seq((9.0, 1L), (9.0, 5L))
    assert(topk.reduce(b, (0L, 9.0, 7L)) == b, "worse tie must be rejected")
    assert(topk.reduce(b, (0L, 9.0, 2L)) == Seq((9.0, 1L), (9.0, 2L)),
      "better tie must displace the buffer minimum")
    assert(topk.merge(Seq((1.0, 1L)), Seq((2.0, 2L))) == Seq((2.0, 2L), (1.0, 1L)))
  }

  test("shingle_hashes is bit-identical to the SQL-expr shingle pipeline") {
    val tricky = Seq(
      (9001L, "plain ascii bigram stream with several tokens here"),
      (9002L, "double  space"), (9003L, " leading and trailing "),
      (9004L, "solo"), (9005L, ""), (9006L, "日本 語 テスト 🙂 emoji"),
      (9007L, "rep rep rep rep"))
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(tricky.toDF("doc_id", "text"))
    val native = docs.select(col("doc_id"),
        explode(graft.functions.ShingleHashes.shingle_hashes(col("text"))).as("sh"))
      .select(col("doc_id"), col("sh.s"), col("sh.h"), col("sh.h60"))
      .as[(Long, String, Long, Long)].collect().sorted.toSeq
    val sqlExpr = docs
      .withColumn("toks", split(col("text"), " "))
      .selectExpr("doc_id", s"explode(${DedupOps.bigramsE}) as s")
      .withColumn("h", expr("cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)"))
      .withColumn("h60", expr("cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)"))
      .as[(Long, String, Long, Long)].collect().sorted.toSeq
    assert(native == sqlExpr)
  }

  test("q74: EXISTS plans a semi join; each order counts at most once") {
    val df = graft.operators.RelationalOps.priorityCheck(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"EXISTS must plan a semi join:\n$plan")
    // total counted orders can never exceed the distinct qualifying orders
    val total = df.agg(sum("order_count")).head.getLong(0)
    val distinctOrders = Tables.orders(spark, sf)
      .where(expr("o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'"))
      .join(Tables.lineitem(spark, sf).where(col("l_returnflag") === "R")
              .select("l_orderkey").distinct(),
        col("o_orderkey") === col("l_orderkey"))
      .count()
    assert(total == distinctOrders,
      s"semi-join count $total != distinct qualifying orders $distinctOrders")
  }

  // ---------------------------------------- empty-corpus hardening

  test("library Of-entries return empty results, not crashes, on an empty corpus") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(DedupOps.minhashSignaturesOf(empty).count() == 0)
    assert(DedupOps.lshCandidatesOf(empty).count() == 0)
    assert(DedupOps.containmentPairsOf(empty).count() == 0)
    assert(graft.streaming.StreamingDedup.withSignature(empty).count() == 0)
  }

  // ------------------------------------- staged verified near-dup pairs

  test("verified pair table stages once; staged == unstaged bit-for-bit") {
    val root = Files.createTempDirectory("graft_verified_stage").toString
    val staged = DedupOps.withStagingRoot(Some(root)) {
      DedupOps.jaccardVerify(spark, sf).collect().toSeq
    }
    val dir = DedupOps.withStagingRoot(Some(root)) {
      graft.operators.Staging.tableDir(root, sf, "verified_h8_b4")
    }
    assert(Files.exists(Paths.get(dir, "_SUCCESS")),
      s"verified pairs were not materialized under $dir")
    val before = Files.getLastModifiedTime(Paths.get(dir, "_SUCCESS"))
    val again = DedupOps.withStagingRoot(Some(root)) {
      DedupOps.jaccardVerify(spark, sf).collect().toSeq
    }
    assert(Files.getLastModifiedTime(Paths.get(dir, "_SUCCESS")) == before,
      "second read rebuilt the staged verified table")
    // the unstaged reference: the same two stages composed from the
    // library entries over the documents frame, with no staged table
    val docs = graft.Tables.documents(spark, sf)
    val inline = DedupOps.verifyPrefixPairs(
        DedupOps.lshCandidatesOf(docs).select("doc_a", "doc_b"),
        DedupOps.setsFrom(DedupOps.shinglesOf(docs)), DedupOps.jaccardThreshold)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(staged.nonEmpty && staged == again && staged == inline)
  }

  test("staged verified read plan is a pure scan — no join, no shingle recompute") {
    val root = Files.createTempDirectory("graft_verified_plan").toString
    DedupOps.withStagingRoot(Some(root)) {
      DedupOps.jaccardVerify(spark, sf).count() // materialize
      val plan = DedupOps.jaccardVerify(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"staged verified read still joins:\n$plan")
      assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
        "staged verified read must be a parquet scan")
    }
  }
}
