package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark harness (driver contract: prints ONE JSON line).
  *
  * Measurement rules (VERDICT r1 "what's wrong" #1/#2):
  *   - materialize through the `noop` DSv2 sink, not `.count()` — a count
  *     lets Catalyst prune every unreferenced projection and eliminate sorts,
  *     so projection-only queries would time scan+count instead of the
  *     functions under test;
  *   - one full warmup pass (JIT + codegen + parquet footer caching) before
  *     timing;
  *   - deterministic name order, median of timed runs per query.
  *
  * Driver-signal discipline (VERDICT r17 "next round" task 1 — two rounds
  * without a driver-validated number; r17's rc was 0 but the stdout
  * headline overflowed the driver's ~2000-char tail and parsed null):
  *   - the stdout headline is COMPACT — total, sample counts, the
  *     box-factor, median ratio vs baseline, tier breach lists and the
  *     budget block; the full per-query map lives ONLY in BENCH_LAST.json
  *     (committed each round). The headline is asserted < 1500 chars by
  *     construction (breach lists capped, no per-query map).
  *   - BOX CONTROL first: three pinned control queries are warmed and
  *     timed before anything else, unconditionally (this also guarantees
  *     a warm JVM before the first real timed rep even when the deadline
  *     skips the per-query warmup pass — the r17 artifact manufactured a
  *     fake 26x breach from a cold first query). `box_factor` = median of
  *     (control time / recorded baseline): a degraded box reads >> 1 here
  *     and the per-query ratios are interpreted against it,
  *     machine-readably instead of in prose.
  *   - ROTATION under budget pressure: the sweep order starts at a cursor
  *     persisted in BENCH_CURSOR (committed), advancing by the number of
  *     queries actually sampled — a truncated round drops a DIFFERENT
  *     tail next round instead of always the alphabetical one.
  *
  * Budget discipline (VERDICT r16 "what's wrong" #1):
  *   - the sweep runs against a deadline (`SPARK_GRAFT_BENCH_DEADLINE`
  *     seconds, default 1380). The deadline is checked BETWEEN reps, so
  *     the final in-flight rep can overshoot it by its own duration
  *     (observed ~2 s) — a soft cap by design, never mid-query;
  *   - queries whose recorded baseline is < 1.2 s take their 2 samples
  *     back-to-back in the warm sequential pass and skip the cold
  *     round-robin rescue rep (the rescue pass's cold-cache penalty would
  *     bias a 2-sample median upward — the r11 lesson);
  *   - the full-sweep JSON is written to BENCH_LAST.json IMMEDIATELY
  *     after the timed reps, then again after each optional stage, so a
  *     kill mid-stage still leaves the file; the headline is printed
  *     exactly once, as the last stdout line;
  *   - every deadline-driven skip is recorded in the JSON (`budget` block)
  *     so a truncated sweep is never mistaken for a complete one.
  */
object Bench {

  private def runOnce(
      spark: SparkSession,
      sfDir: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - startNs) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val deadline =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE", "1380").toDouble
    val spark = GraftSession.get("graft-bench", s"local[$cpus]", cpus.toInt)

    // Dev loop only (driver leaves it unset): bench a named subset.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val alphabetical = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      // the q_tpcds_sf1_* de-vacuation tier is a CORRECTNESS surface (runs
      // against the 260 MB sf1 corpus, seconds per query); sweeping it here
      // would blow the driver's bench window for zero perf signal — the sf1
      // perf story lives in TPCDS_SF1.json and the scale tier
      .filterNot { case (n, _) => n.startsWith("q_tpcds_sf1_") }

    // Rotation cursor (task 1d): start the sweep where the last truncated
    // round stopped sampling, so budget pressure rotates coverage instead
    // of repeatedly dropping the same alphabetical tail.
    val cursorPath = java.nio.file.Paths.get("BENCH_CURSOR")
    val cursor =
      try new String(java.nio.file.Files.readAllBytes(cursorPath)).trim.toInt
      catch { case _: Throwable => 0 }
    val rot = if (alphabetical.isEmpty) 0 else cursor % alphabetical.size
    val ordered = alphabetical.drop(rot) ++ alphabetical.take(rot)

    // Recorded baselines, parsed up-front: they drive the rep schedule
    // (sub-1.2s queries get one fewer sequential rep), the 1.8x re-measure
    // trigger, and the box-factor controls.
    val baselines: Map[String, Double] =
      try {
        val md = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BASELINE.md")),
          java.nio.charset.StandardCharsets.UTF_8)
        val row = """\| (q\w+) \| ([0-9.]+) \| [0-9.]+ \| [0-9.]+ \|""".r
        row.findAllMatchIn(md)
          .map(m => m.group(1) -> m.group(2).toDouble).toSeq
          // last occurrence wins: a re-baselined query appears in multiple
          // round sections and the most recent number is the live one
          .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      } catch { case _: Throwable => Map.empty }

    val budgetNotes = scala.collection.mutable.ArrayBuffer.empty[String]

    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    // ---- STAGE -1: box-factor controls, UNCONDITIONAL (task 1b/1c).
    // Three pinned mid-size queries with stable recorded baselines: one
    // warmup each (absorbs JVM/JIT/session start before ANY timed rep —
    // under every budget path), then two timed reps. box_factor is the
    // median of (median control time / its baseline): ~1.0 on a quiet box,
    // >>1 on a degraded one — the driver artifact carries the box state
    // machine-readably instead of in after-the-fact prose.
    val controlNames = Seq("q_tpch_q1", "q_dedup_exact", "q_over_rows")
    val byNameAll = SparkEntry.queries
    val boxFactor: Option[Double] = {
      val ratios = controlNames.flatMap { n =>
        (byNameAll.get(n), baselines.get(n)) match {
          case (Some(fn), Some(b)) if b > 0 =>
            try {
              runOnce(spark, sfDir, fn) // warmup, untimed
              val ts = (1 to 2).map(_ => runOnce(spark, sfDir, fn))
              Some(median(ts) / b)
            } catch { case _: Throwable => None }
          case _ => None
        }
      }
      if (ratios.isEmpty) None else Some(median(ratios))
    }

    // Warmup: one untimed pass over every query, in rotated order (so the
    // queries timed first are also warmed first). Gate at 40% of the
    // budget — a degraded box that can't finish warmup in that window
    // won't finish the timed passes either, and a cold-measured query
    // beats none; the controls above already warmed the JVM itself.
    var warmupSkipped = 0
    var warmedCount = 0
    ordered.foreach { case (_, fn) =>
      if (elapsed > deadline * 0.4) warmupSkipped += 1
      else {
        (try runOnce(spark, sfDir, fn) catch { case _: Throwable => () })
        warmedCount += 1
      }
    }
    if (warmupSkipped > 0) budgetNotes += s"warmup_skipped:$warmupSkipped"

    // Rep schedule (r12): sequential reps per query right after its warmup
    // neighborhood (hot JIT/code cache — the state the baselines were
    // recorded in), then ONE final round-robin rescue pass minutes later.
    // r11's fully-interleaved schedule fixed the spike false alarms but ran
    // every rep cold and shifted the whole sweep's medians +26% vs baseline.
    // Aggregate by MEDIAN (r13, ADVICE r12): the BASELINE.md numbers were
    // recorded under median, and a min-vs-median comparison biases every
    // ratio downward, weakening the 2x gate.
    // Sub-1.2s-baseline queries take BOTH samples here, sequentially —
    // their medians must come from the warm neighborhood the baselines
    // were recorded in (a cold round-robin rep after 470 other queries
    // churned the code cache reads +26%, the r11 lesson, and a 2-sample
    // median would average that bias in). Neighborhood-wide poisoning of
    // both reps is caught by the 1.8x-vs-baseline re-measure trigger.
    val timed = Array.fill(ordered.size)(
      scala.collection.mutable.ArrayBuffer.empty[Double])
    val small = ordered.map { case (name, _) =>
      baselines.get(name).exists(_ < 1.2) }
    var seqSkipped = 0
    var lateWarmed = 0
    ordered.zipWithIndex.foreach { case ((_, fn), i) =>
      if (elapsed > deadline * 0.7) seqSkipped += 1
      else {
        // a truncated warmup pass must not produce COLD timed samples
        // (review r18: both samples of the unwarmed tail would carry
        // JIT/footer warm-up — the r17 fake-26x shape, per query): warm
        // just-in-time for queries the warmup pass never reached
        if (i >= warmedCount) {
          (try runOnce(spark, sfDir, fn) catch { case _: Throwable => () })
          lateWarmed += 1
        }
        (1 to math.max(if (small(i)) 2 else 1, reps - 1)).foreach { _ =>
          timed(i) += (try runOnce(spark, sfDir, fn)
            catch { case _: Throwable => -1.0 })
        }
      }
    }
    if (seqSkipped > 0) budgetNotes += s"seq_reps_skipped:$seqSkipped"
    if (lateWarmed > 0) budgetNotes += s"late_warmed:$lateWarmed"

    // Medians over whatever samples a query holds. ANY failed rep marks the
    // query failed (-1): a query that crashes intermittently must not report
    // a healthy aggregate of its surviving reps (review r11).
    def computeResults(): Seq[(String, Double)] =
      ordered.zipWithIndex.map { case ((name, _), i) =>
        val ts = timed(i).toSeq
        name -> (if (ts.isEmpty || ts.exists(_ < 0)) -1.0 else median(ts))
      }.sortBy(_._1)

    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    // One scale-tier block: per-query seconds, growth vs this sweep's
    // sf0.1 medians, gate breaches, deadline-skipped names.
    final case class Tier(
        label: String,
        dir: Option[String],
        results: Seq[(String, Double)],
        skipped: Seq[String],
        breachGate: Double,
        floorSec: Double)
    // Breach = growth over the gate AND an absolute tier time above the
    // floor (task 1, r19): a cold-start fixed cost on a small query reads
    // as huge "growth" against a sub-second sf0.1 median — the r18 driver
    // artifact manufactured 79x/16x breaches this way that three same-day
    // sweeps contradicted. A genuinely super-linear pipeline at 10-30x
    // data clears any floor this size by orders of magnitude.
    def tierBreaches(t: Tier, base: Map[String, Double]): Seq[String] =
      t.results.flatMap { case (k, v) =>
        base.get(k).filter(b => b > 0 && v >= 0)
          .map(b => (k, v, v / b))
      }.filter { case (_, v, g) => g > t.breachGate && v > t.floorSec }
        .map(_._1).sorted

    // The FULL artifact (per-query map, tiers, growth) — file-only.
    def toJson(
        rs: Seq[(String, Double)],
        remeasured: Seq[String],
        tiers: Seq[Tier]): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val total = rs.map(_._2).filter(_ >= 0).sum
      val rm = remeasured.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      val base = rs.toMap
      val tierJson = tiers.filter(t => t.results.nonEmpty || t.skipped.nonEmpty)
        .map { t =>
          val sq = t.results.map { case (k, v) =>
            "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
          val growth = t.results.flatMap { case (k, v) =>
            base.get(k).filter(b => b > 0 && v >= 0)
              .map(b => k -> v / b)
          }
          val gj = growth.map { case (k, g) =>
            "\"" + k + "\":" + f"$g%.2f" }.mkString("{", ",", "}")
          val breaches = tierBreaches(t, base)
            .map("\"" + _ + "\"").mkString("[", ",", "]")
          val sk = t.skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
          s""","${t.label}":{"dir":"${t.dir.getOrElse("")}","gate":${t.breachGate},"queries":$sq,"growth":$gj,"breaches":$breaches,"skipped":$sk}"""
        }.mkString
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"remeasured":$rm,"sf":"$sfDir"$tierJson${diagJson(rs)}}"""
    }

    // Sweep-level box diagnostic: the median of per-query ratios vs the
    // recorded baselines. Code changes move individual ratios; a BOX
    // slower/faster than the recording window moves the whole median
    // (r17: a degraded window read 1.44 here while an A/B at the prior
    // commit confirmed code parity). Diagnostic only, never a gate.
    def diagJson(rs: Seq[(String, Double)]): String = {
      val medianRatio = {
        val ratios = rs.flatMap { case (k, v) =>
          baselines.get(k).filter(_ > 0).filter(_ => v > 0).map(v / _)
        }.sorted
        if (ratios.isEmpty) ""
        else f""","median_ratio_vs_baseline":${median(ratios)}%.2f"""
      }
      val bf = boxFactor.map(b => f""","box_factor":$b%.2f""").getOrElse("")
      s"""$medianRatio$bf,"budget":{"deadline":${fmt(deadline)},"elapsed":${fmt(elapsed)},"notes":${
        budgetNotes.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    }

    // The stdout HEADLINE (task 1a): compact by construction — counts,
    // total, box factor, tier breach lists (names capped at 6 per tier,
    // count always exact) and the budget block. NO per-query map: r17's
    // headline overflowed the driver's ~2000-char stdout tail and parsed
    // null; the full map lives in BENCH_LAST.json, committed each round.
    def headlineJson(
        rs: Seq[(String, Double)],
        tiers: Seq[Tier]): String = {
      val sampled = rs.count(_._2 >= 0)
      val total = rs.map(_._2).filter(_ >= 0).sum
      val base = rs.toMap
      def build(nameCap: Int): String = {
        val breachJson = tiers
          .filter(t => t.results.nonEmpty || t.skipped.nonEmpty)
          .map { t =>
            val b = tierBreaches(t, base)
            val names = b.take(nameCap).map("\"" + _ + "\"")
              .mkString("[", ",", "]")
            s""""${t.label}":{"n":${b.size},"names":$names,"skipped":${t.skipped.size}}"""
          }.mkString("{", ",", "}")
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${rs.size},"n_sampled":$sampled,"queries":{"q1_agg":${fmt(base.getOrElse("q1_agg", -1.0))}},"sf":"$sfDir","cursor":$rot,"breaches":$breachJson${diagJson(rs)},"full":"BENCH_LAST.json"}"""
      }
      // ENFORCED length bound, not just by construction (review r18): a
      // line past the driver's ~2000-char stdout tail parses null (the
      // r17 failure) — degrade breach-name detail before ever risking it
      val full = build(6)
      if (full.length <= 1500) full else build(0)
    }

    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    def emit(
        results: Seq[(String, Double)],
        remeasured: Seq[String],
        tiers: Seq[Tier]): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(out),
        toJson(results, remeasured, tiers)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => () }

    // Persist the rotation cursor AT EACH STAGE, not only at the end
    // (review r18): a hard kill mid-sweep — the very failure mode
    // rotation exists for — must still advance it past whatever was
    // sampled, or every truncated round re-drops the identical tail.
    def writeCursor(): Unit =
      if (only.isEmpty && ordered.nonEmpty) {
        val sampledCount = timed.count(_.nonEmpty)
        try java.nio.file.Files.write(cursorPath,
          (((rot + sampledCount) % ordered.size).toString + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch { case _: Throwable => () }
      }

    // ---- STAGE 0 flush: seq-pass medians, BEFORE the rescue pass. On a
    // badly degraded box even the rescue pass can outlive the driver's
    // wall clock — this flush guarantees BENCH_LAST.json holds the
    // timed sequential reps the moment they are in.
    writeCursor()
    var results = computeResults()
    emit(results, Seq.empty, Seq.empty)

    // ---- STAGE 2: scale tier (VERDICT r15 #3): the heaviest pipelines once
    // more against the 10x corpus (scale-data/sf1, built by ScaleDataGen).
    // Per query: one untimed warm rep, then min-of-2 timed reps while the
    // budget allows (r19 task 1 — single cold reps under a truncated
    // driver window manufactured the r18 false breaches); growth =
    // t_sf1 / t_sf0.1 median from THIS sweep (same process, same JIT
    // state). A growth factor > 15x for 10x data AND a tier time above
    // the absolute floor flags a super-linear pipeline (breaches list).
    // Per-query deadline gate: skipped names are recorded, never
    // silently dropped.
    // q_multiset dropped r19 (task 1): a semantics demo, not a pipeline —
    // its tier rep measured fixed costs, not growth
    val scaleNames = Seq(
      "q1_agg", "q_salted_join",
      "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
      "q_ngram_jaccard", "q_doc_fingerprint", "q_dedup_cluster",
      "q_decontaminate", "q_embedding_cosine_dup",
      "q_embedding_dedup_cluster", "q_vector_topk", "q_vector_ivf_topk",
      "q_tpch_q1", "q_tpch_q9", "q_tpch_q21",
      "q_tpcds_q23", "q_tpcds_q28", "q_tpcds_q67", "q_tpcds_q72",
      "q_tpcds_q95",
      "q_changelog_agg_chain", "q_changelog_join", "q_changelog_join_nary",
      "q_changelog_join_nary_left", "q_changelog_join_nary_residual",
      "q_retract_agg")
    def runTier(
        label: String,
        dirEnv: String,
        defaultDir: String,
        names: Seq[String],
        gate: Double,
        breachGate: Double,
        floorSec: Double): Tier = {
      val dir = sys.env.get(dirEnv)
        .orElse(Option(defaultDir)
          .filter(d => new java.io.File(d).isDirectory))
        .filter(_ => sys.env.get("SPARK_GRAFT_SCALE_SKIP").isEmpty)
      val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
      val rs: Seq[(String, Double)] = dir match {
        case Some(d) =>
          val byNameQ = SparkEntry.queries
          names.filter(byNameQ.contains)
            .filter(n => only.forall(_.contains(n)))
            .flatMap { n =>
              if (elapsed > deadline * gate) { skipped += n; None }
              else {
                val fn = byNameQ(n)
                // one untimed warm rep against the TIER dir before the
                // timed rep (task 1, r19 — the sweep's just-in-time
                // warmup lesson applied here): under a truncated driver
                // window the tier queries were the only COLD-measured
                // ones left, and single cold reps on a degraded box
                // manufactured the r18 false breaches
                (try runOnce(spark, d, fn)
                catch { case _: Throwable => () })
                val t1 = try runOnce(spark, d, fn)
                  catch { case _: Throwable => -1.0 }
                // min-of-2, MANDATORY for grading (r20, VERDICT r19 task
                // 4): a tier time is only breach-gradable when its second
                // rep actually ran — r19's truncated driver window still
                // manufactured a q1_agg breach from the lone rep that
                // squeaked past the budget gate before the skip cut in.
                // No budget for the second rep ⇒ the query is recorded as
                // SKIPPED (ungraded), never as a single-sample result.
                if (t1 >= 0 && elapsed <= deadline * gate) {
                  val t2 = try runOnce(spark, d, fn)
                    catch { case _: Throwable => -1.0 }
                  Some(n -> (if (t2 >= 0) math.min(t1, t2) else -1.0))
                } else if (t1 < 0) Some(n -> -1.0)
                else { skipped += n; None }
              }
            }
        case None => Seq.empty
      }
      Tier(label, dir, rs, skipped.toSeq, breachGate, floorSec)
    }
    val scaleTier = runTier("scale", "SPARK_GRAFT_SCALE_DIR",
      "scale-data/sf1", scaleNames, gate = 0.80, breachGate = 15.0,
      floorSec = 8.0)
    emit(results, Seq.empty, Seq(scaleTier))

    // ---- STAGE 2b: SKEW sub-tier (VERDICT r16 task 5): the same 15x
    // growth gate against the adversarially-skewed 10x corpus
    // (`ScaleDataGen skew` — zipf join keys, one 10^4-member duplicate
    // family, one hot cosine cluster). The uniform tier proves linearity
    // on spread keys; this one proves the df/bucket caps and salting
    // absorb concentrated keys. Growth denominators are the same sf0.1
    // medians.
    val skewNames = Seq(
      "q1_agg", "q_salted_agg", "q_salted_join", "q_tpch_q9",
      "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
      "q_ngram_jaccard", "q_doc_fingerprint", "q_dedup_cluster",
      "q_embedding_cosine_dup", "q_embedding_dedup_cluster",
      "q_changelog_join", "q_changelog_join_nary")
    val skewTier = runTier("skew", "SPARK_GRAFT_SKEW_DIR",
      "scale-data/sf1skew", skewNames, gate = 0.88, breachGate = 15.0,
      floorSec = 8.0)
    emit(results, Seq.empty, Seq(scaleTier, skewTier))

    // ---- STAGE 2c: sf3 SPOT tier (VERDICT r17 task 6): the five heaviest
    // pipelines once against the 30x corpus (`ScaleDataGen` with 30
    // replicas → scale-data/sf3), gated at 45x growth for 30x data — one
    // decade beyond the sf1 tier, turning "the caps hold at 10x" into
    // "the caps hold across two decades of growth". Budget-gated hardest
    // (only runs with headroom); skips are recorded like every tier.
    val spotNames = Seq(
      "q_dedup_minhash", "q_embedding_cosine_dup", "q_dedup_cluster",
      "q_tpcds_q23", "q_changelog_agg_chain")
    val spotTier = runTier("scale3", "SPARK_GRAFT_SCALE3_DIR",
      "scale-data/sf3", spotNames, gate = 0.93, breachGate = 45.0,
      floorSec = 12.0)
    emit(results, Seq.empty, Seq(scaleTier, skewTier, spotTier))

    // ---- STAGE 2d: rescue pass — the temporally-decorrelated third
    // sample for the big queries (their absolute size dwarfs the
    // cold-cache penalty). Runs AFTER the tier stages (r18): under the
    // driver's tight window the tiers are GRADED artifacts while the
    // rescue only refines medians — r17's order spent the whole window
    // on rescue reps and shipped empty tier blocks. Past 90% of the
    // budget, only queries with zero samples still run; past the FULL
    // deadline nothing runs (an unsampled query then reports -1 with the
    // skip recorded — a parseable artifact beats a perfect one).
    var rescueSkipped = 0
    var rescueUnsampled = 0
    ordered.zipWithIndex.foreach { case ((_, fn), i) =>
      if (small(i) && timed(i).nonEmpty) ()
      else if (elapsed > deadline && timed(i).isEmpty) rescueUnsampled += 1
      else if (elapsed > deadline * 0.9 && timed(i).nonEmpty) rescueSkipped += 1
      else timed(i) += (try runOnce(spark, sfDir, fn)
        catch { case _: Throwable => -1.0 })
    }
    if (rescueSkipped > 0) budgetNotes += s"rescue_reps_skipped:$rescueSkipped"
    if (rescueUnsampled > 0)
      budgetNotes += s"rescue_unsampled_skipped:$rescueUnsampled"

    // Advance the rotation cursor past everything the rescue pass added:
    // a complete sweep rotates a full lap (cursor unchanged mod n); a
    // truncated one resumes next round at the first unsampled query.
    writeCursor()

    // ---- STAGE 2e flush: full raw medians with all tier blocks.
    results = computeResults()
    emit(results, Seq.empty, Seq(scaleTier, skewTier, spotTier))

    // ---- STAGE 3: quiet re-measures — the BASELINE.md "7-rep quiet-box"
    // procedure automated inside the sweep (r14): when a query's median sits
    // far above its own fastest rep (noisy-neighbor poisoning), or exceeds
    // 1.8x its RECORDED baseline (uniformly noisy neighborhood, r15), take 4
    // extra reps at the END of the sweep (quiet JVM) and report the median
    // of all samples. Variance reduction, not selection: a genuine
    // regression is slow in every rep and keeps its slow median.
    // floor 0.05 not 0.15: the per-query 2x gate treats a 0.1s->0.22s drift
    // on a 25-row query the same as a 2s->4.4s one.
    // auditable (ADVICE r14): record + log every query the procedure
    // touched, so an adjusted median is never mistaken for a raw one.
    val remeasured = scala.collection.mutable.ArrayBuffer.empty[String]
    var remeasureTruncated = false
    ordered.zipWithIndex.foreach { case ((name, fn), i) =>
      val ts = timed(i).toSeq
      if (ts.nonEmpty && !ts.exists(_ < 0)) {
        val med = median(ts)
        val vsBaseline = baselines.get(name)
          .exists(b => med > b * 1.8 && med - b > 0.05)
        val noisy = (med > ts.min * 1.5 && med - ts.min > 0.15) || vsBaseline
        if (noisy) {
          if (elapsed > deadline) remeasureTruncated = true
          else {
            remeasured += name
            System.err.println(
              f"[bench] re-measuring $name: median $med%.3f vs " +
                f"min ${ts.min}%.3f over ${ts.size} reps")
            (1 to 4).foreach { _ =>
              timed(i) += (try runOnce(spark, sfDir, fn)
                catch { case _: Throwable => -1.0 })
            }
          }
        }
      }
    }
    if (remeasureTruncated) budgetNotes += "remeasure_truncated"
    results = computeResults()
    val tiers = Seq(scaleTier, skewTier, spotTier)
    emit(results, remeasured.toSeq, tiers)
    // before stop(), so a failing stop cannot swallow the headline (Spark
    // logs to stderr, so it is still the last stdout line)
    println(headlineJson(results, tiers))
    System.out.flush()
    spark.stop()
  }
}
