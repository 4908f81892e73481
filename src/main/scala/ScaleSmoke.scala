import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, Similarity}

/** Scale smoke: replicate documents and embeddings by env-set factors and
  * check the dedup/ANN pipelines scale ~linearly in corpus size.
  *
  * `SCALE_DOC_COPIES` (default 20 → 100k docs at sf0.1) and
  * `SCALE_EMB_COPIES` (default 4 → 8k vectors); the round-5 growth check
  * runs 20/4 vs 200/16 (1M docs / 32k vectors) and compares stage times.
  *
  * Fixture shape matters for what the numbers MEAN: copies 0 and 1 keep
  * identical text (one true duplicate pair per base doc) while every other
  * copy gets its tokens SALTED with the copy number, so no shingle matches
  * across variant copies. That keeps duplicate-clique size scale-INVARIANT
  * (always 2): growth factors then measure the engine's scaling, not the
  * quadratic blowup of ever-larger identical-copy cliques the data would
  * otherwise inject (Σ bucket² with bucket ∝ copies). Embedding copies stay
  * exact replicas — vector near-dup output grows ~copies² per base vector
  * BY CONSTRUCTION there, so its time is judged against output rows, and
  * the row counts are printed for exactly that. */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val docCopies = sys.env.getOrElse("SCALE_DOC_COPIES", "20").toInt
    val embCopies = sys.env.getOrElse("SCALE_EMB_COPIES", "4").toInt
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs0 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val copies = spark.range(docCopies).withColumnRenamed("id", "copy")
    val uniform = docs0.crossJoin(copies)
      .select((col("doc_id") + col("copy") * 10000000L).as("doc_id"),
        when(col("copy") < 2, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            t => concat(lit("c"), col("copy"), t)), " ")).as("text"))
    // SCALE_SKEW=1 (r20, r19-verdict task 8): a hot clique of ONE salted
    // text replicated for 4% of the corpus — the clique GROWS with the
    // corpus (4k docs at 100k, 40k at 1M), the adversarial case for the
    // capped shapes (candidatePairs maxBucket, decontaminate tiers,
    // sourceDupRollup hot/cold split): their growth must stay ~linear
    // BECAUSE the caps bound the hot structure, while any uncapped
    // enumeration would grow ~quadratically in the clique.
    val skew = sys.env.get("SCALE_SKEW").exists(_ == "1")
    val docs = if (!skew) uniform else {
      val hotText = docs0.orderBy(length(col("text")), col("doc_id"))
        .limit(1).select(
          array_join(transform(split(col("text"), " "),
            t => concat(lit("hot"), t)), " ").as("t"))
        .head.getString(0)
      val cliqueN = math.max(1L, docs0.count() * docCopies / 25L)
      uniform.unionByName(spark.range(cliqueN)
        .select((col("id") + 900000000L).as("doc_id"), lit(hotText).as("text")))
    }
    docs.cache(); val n = docs.count()
    if (skew) println(s"[scale] SKEW fixture: hot clique ${n / 25} of $n docs")
    // SCALE_ONLY=substr1,substr2 runs only matching stages (A/B iteration).
    val only = sys.env.get("SCALE_ONLY").map(_.split(",").toSeq)
    def t(name: String)(f: => Long): Unit = {
      if (only.forall(_.exists(name.contains))) {
        val t0 = System.nanoTime(); val r = f
        println(f"[scale] $name%-26s ${(System.nanoTime()-t0)/1e9}%7.2f s  ($r rows over $n docs)")
      }
    }
    t("exact dedup")(DedupOps.exactDedup(docs, "doc_id", "text").count())
    t("minhash signatures")(DedupOps.minhashSignature(docs, "doc_id", "text", 8).count())
    t("lsh candidate pairs")(DedupOps.candidatePairs(
      DedupOps.lshBuckets(DedupOps.minhashSignature(docs, "doc_id", "text", 8), "doc_id"), "doc_id").count())
    // smallEdgeCap = 0 pins the DISTRIBUTED CC path: this stage exists to
    // prove the iterative algorithm's growth law, not the driver fast path
    // (which a toy edge set would otherwise silently take — second row).
    t("near-dup survivors (CC)")(DedupOps.nearDupSurvivors(docs, "doc_id", "text",
      smallEdgeCap = 0).count())
    t("near-dup survivors (auto)")(
      DedupOps.nearDupSurvivors(docs, "doc_id", "text").count())
    // filter on cleaned_text length forces the ordered fold (a bare count
    // lets Catalyst prune the reassembly entirely — measured 0.2 s vs real)
    t("segment dedup")(DedupOps.dropBoilerplateSegments(docs, "doc_id", "text")
      .filter(length(col("cleaned_text")) >= 0).count())
    // sum(n_matched) forces the test-side probe: the distinct test set is
    // UNIQUE on the join key, so under count() Catalyst eliminates the
    // left join entirely (same trap as the join-free rollup below).
    t("decontaminate")({ DedupOps.decontaminate(docs, "doc_id", "text")
      .agg(sum(col("n_matched")), sum(col("overlap_ppm"))).collect(); 1L })
    // A/B that DECIDED the duplicated-spans shape: the one-pass string-
    // keyed form beat the two-pass hash-keyed form 2x at 100k docs and
    // 10x at 1M (same-run measurements — see duplicatedSpans scaladoc).
    // count() is safe here: orderBy+limit forces the full aggregation.
    t("dup spans (string 1-pass)")(
      DedupOps.duplicatedSpans(docs, "doc_id", "text").count())
    t("dup spans (hash 2-pass)")(
      DedupOps.duplicatedSpansHashKeyed(docs, "doc_id", "text").count())
    // Span REMOVAL growth (r12): linear passes only — span-keyed election,
    // mask join-back, token-position anti join, per-doc fold. The filter
    // on cleaned_text forces the reassembly (a bare count lets Catalyst
    // prune the fold, the dropBoilerplateSegments lesson).
    t("span removal")(DedupOps.removeDuplicatedSpans(docs, "doc_id", "text")
      .filter(length(col("cleaned_text")) >= 0).count())
    t("chunk windows")(graft.ops.TextOps.chunkWindows(docs, "doc_id", "text").count())
    // PMI collocations (r10): two vocab-bounded aggregations + distinct-
    // bigram joins — must grow like refFreqQuality (Zipf-bounded keys),
    // not like the corpus. The salted fixture inflates vocab ~linearly
    // with copies, so this is the adversarial case for the claim. The
    // final agg forces the TakeOrdered + joins (count alone would too —
    // limit is a full-aggregation barrier — but the sum pins values).
    t("pmi collocations")(
      graft.ops.TextOps.collocations(docs, "text")
        .agg(sum(col("pmi_ppm"))).collect()(0).getLong(0))
    // Dataset profiler (r10): one unpivot explode (#cols × corpus rows)
    // into a #cols-bounded agg with an exact-distinct Expand — the
    // heaviest generic-profiling shape; linear in rows × cols.
    t("dataset profile")(
      graft.ops.Profile.profile(docs, Seq("doc_id", "text"))
        .agg(sum(col("n_distinct"))).collect()(0).getLong(0))
    // Markup extraction (r10): flat per-row regex/replace passes — must be
    // map-only linear (the round-9 rule f shape).
    t("markup extract")(
      graft.ops.TextOps.extractMarkup(
          docs.select(col("doc_id"),
            concat(lit("<p>"), col("text"), lit("</p><a href=\"/x\">l</a>")).as("html")),
          "doc_id", "html")
        .agg(sum(col("text_chars")) + sum(col("link_chars")))
        .collect()(0).getLong(0))
    // Map-only repetition signals (r8 verdict #3: the old explode+shuffle
    // shape was the slowest query in the round artifact). Row-local →
    // growth must be ~linear in docs. The filter sums all three ppm
    // columns so column pruning can't skip any signal's computation.
    t("repetition signals")(graft.ops.TextOps.repetitionSignals(docs, "doc_id", "text")
      .filter(col("dup_token_ppm") + col("top_bigram_ppm") + col("dup_trigram_ppm") >= 0)
      .count())
    // Winnowing fingerprints (r9): shingleHashRows-shaped index explode
    // with flat per-window minima — expect ~linear in docs. count() is
    // safe: the distinct forces every fingerprint.
    t("winnow fingerprints")(
      DedupOps.winnowFingerprints(docs, "doc_id", "text").count())
    // Reference-frequency quality (CCNet): one explode + df distinct-count
    // + auto-broadcast vocab join — expected ~linear. filter(bucket) forces
    // the post-aggregation scoring projections.
    t("ref-freq quality")(graft.ops.TextOps.refFreqQuality(docs, "doc_id", "text")
      .filter(col("bucket").isNotNull).count())
    // DSIR importance resampling: one (doc,bucket) aggregation + broadcast
    // weight table + map-only admission — expected ~linear. filter(accepted)
    // forces the scoring join and the admission hash.
    t("dsir resample")(graft.ops.TextOps.dsirResample(docs, "doc_id", "text",
      isTarget = pmod(col("doc_id"), lit(5)) === 0)
      .filter(col("accepted")).count())
    // Token classifier (r10): fit = one Zipf-bounded (token, class) agg
    // over the 70% train slice; score = occurrence explode -> wide-model
    // join (LIMIT-probed broadcast vs shuffle) -> doc-keyed k-column
    // partial agg. The SALTED fixture grows the vocabulary ~linearly with
    // copies, so at high copies the dispatcher takes the shuffle path —
    // that flip is part of what this stage observes. count() is safe: the
    // confusion output is an aggregation, nothing prunes.
    t("token classifier (fit+score)")(graft.ops.Classify.confusionMatrix(
      docs.withColumn("lang", concat(lit("l"), pmod(col("doc_id"), lit(4)))),
      "doc_id", "text", "lang", 700, "cls").count())
    // Incremental corpus accounting (r10): one (source)-keyed agg with
    // k-bounded KMV state per batch + a sources×k merge against the store.
    // Expect ~linear in docs; the merge term is source-alphabet-scale.
    locally {
      val statsDir = java.nio.file.Files.createTempDirectory("scale-sstats")
      val store = new graft.state.ParquetStateStore(spark, statsDir.toString)
      val src = docs.withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(16))))
      t("incr stats merge")(graft.streaming.StreamingStats.mergeBatch(
        store, src, 0L))
    }
    // BPE training (r9): the corpus pass collapses to the word vocabulary
    // map-side; each of the 6 merge rounds is vocabulary-scale. The salted
    // fixture grows the vocab ~linearly with copies, so expect ~linear.
    t("bpe train (6 merges)")(graft.ops.Bpe.trainAsDf(docs, "text", 6).count())
    // Source-overlap matrix (r9): per-source KMV sketches (k-bounded
    // state) + SOURCES^2 pairwise on 16 synthetic feeds — the corpus cost
    // is the one shingle pass, so expect ~linear regardless of sources.
    t("source overlap")(DedupOps.sourceOverlap(
      docs.withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(16)))),
      "source", "doc_id", "text").count())
    // Dataset-assembly growth (r8): tokenize-once projection → bucketed
    // two-level prefix sum → token-balanced shards → manifest. The stage's
    // only corpus-scale shuffles are the checkpoint write and the
    // per-bucket window; bucket subtotals stay ≤4096 rows at ANY corpus
    // size, so growth should track the tokenize+shuffle cost ~linearly.
    locally {
      import graft.ops.{Assemble, TextOps}
      val based = TextOps.withNormToks(docs, "text")
      val nTokens = when(length(col("_norm")) === 0, 0L)
        .otherwise(size(col("_toks")).cast("long"))
      t("shard plan + manifest") {
        val plan = Assemble.shardPlan(
          based.select(col("doc_id"), nTokens.as("n_tokens"),
            Assemble.contentChecksumTerm(col("text")).as("_csum")),
          "doc_id", "n_tokens", shardTokens = 100000L, salt = "shard")
        Assemble.shardManifest(plan, "shard_id", "doc_id", "n_tokens",
          col("_csum")).count()
      }
      t("shuffle order")(
        Assemble.shuffledOrder(docs.select(col("doc_id")), "doc_id").count())
    }
    // Incremental near-dedup at crawl shape (r7 verdict #8): half the corpus
    // is committed — its distinct (band, bucket) set is the state — and the
    // other half is admitted against it. The state build runs UNTIMED
    // (materialized first); the timed stage is exactly the operator's
    // growth-suspect part: the batch signature pipeline + the state-vs-batch
    // semi/anti joins. State is bucket-scale, never corpus rows.
    locally {
      val committed = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      val seen = DedupOps.lshBuckets(
          DedupOps.minhashSignature(committed, "doc_id", "text", 8), "doc_id", 8, 4)
        .select(col("bucket"), col("band")).distinct().localCheckpoint()
      val stateRows = seen.count() // materialize the state before the clock starts
      t(s"incr near-dedup ($stateRows-bucket state)")(
        DedupOps.incrementalNearDedup(batch, seen, "doc_id", "text")._1.count())
    }
    // Per-source rollup under a hot-key fixture: a ~50-token boilerplate
    // header on 10% of docs concentrates those shingles' occurrence rows
    // into few `_h` join partitions (AQE skew-split territory at scale).
    locally {
      val bp = (1 to 48).map(i => s"boilerplate$i").mkString(" ")
      val srcDocs = docs
        // SCALE_SKEW: feed0 takes ~24% of docs (20% direct + its 1/20
        // residue share) — the hot-source case the two-path split guards
        .withColumn("src", if (skew)
          when(pmod(col("doc_id"), lit(5)) === 0, lit("feed0"))
            .otherwise(concat(lit("feed"), pmod(col("doc_id"), lit(20))))
          else concat(lit("feed"), pmod(col("doc_id"), lit(20))))
        .withColumn("text", when(pmod(col("doc_id"), lit(10)) === 0,
          concat(lit(bp + " "), col("text"))).otherwise(col("text")))
      // threshold 5000: the bp shingles (~10k occurrences at 100k docs,
      // ~100k at 1M) go hot; ordinary dup shingles stay cold.
      // Force the VALUE columns, not count(): with the r18 join-free
      // shape, count() lets Catalyst eliminate the provably-unique left
      // join and with it the entire shingle aggregation subtree (measured:
      // 0.47 s "at 1M docs" — the r4 count()-pruning trap in join form).
      // The abandoned plain 1-join reference is recorded in BENCHNOTES
      // "Round-7: 1M-doc row for the SHIPPED sourceDupRollup".
      t("source rollup (join-free)")({
        DedupOps.sourceDupRollup(srcDocs, "doc_id", "text", "src",
          hotOccThreshold = 5000L)
          .agg(sum(col("n_dup_occ")), sum(col("dup_ppm"))).collect(); 20L })
    }
    // Event-sequence analytics growth (r9): synthetic deterministic events
    // at 10 × docs, users scaled so PER-USER event counts stay ~50 at any
    // corpus size (the realistic invariant — user activity doesn't grow
    // with the corpus). The funnel's suspect part is the per-user
    // collect+sort+fold; retention/transitions are keyed agg/window. All
    // three should grow ~linearly in events. The sum-forcing aggregates
    // stop Catalyst pruning the fold/count columns under count().
    locally {
      import graft.ops.Funnel
      val evN = n * 10
      val evUsers = math.max(1L, evN / 50)
      val types = array(lit("signup"), lit("view"), lit("click"),
        lit("purchase"), lit("error"))
      val ev = spark.range(evN).select(
        col("id").as("event_id"),
        pmod(col("id"), lit(evUsers)).as("user_id"),
        (lit(1704067200L) + pmod(xxhash64(col("id")), lit(2592000L)))
          .cast("timestamp").as("ts"),
        element_at(types,
          (pmod(xxhash64(col("id"), lit(1)), lit(5)) + 1).cast("int"))
          .as("event_type"))
      val funnelTypes = Seq("signup", "view", "click", "purchase")
      // Both dispatch paths of the LIBRARY entry point, forced via
      // foldCap (Long.MaxValue = greedy fold, 0 = chained joins —
      // Funnel.funnelSteps picks between them on a volume probe; the
      // "auto" row below shows the dispatcher's own pick). The A/B runs
      // both orders via SCALE_FUNNEL_ORDER.
      def funnelSum(cap: Long): Long =
        Funnel.funnelSteps(ev, "ts", "user_id", "event_type",
            funnelTypes, 604800L, foldCap = cap)
          .agg(sum(col("users"))).collect()(0).getLong(0)
      def foldShape(): Unit =
        t(s"funnel fold ($evN events)")(funnelSum(Long.MaxValue))
      def joinShape(): Unit =
        t(s"funnel chained-joins ($evN events)")(funnelSum(0L))
      if (sys.env.get("SCALE_FUNNEL_ORDER").contains("joins_first")) {
        joinShape(); foldShape()
      } else { foldShape(); joinShape() }
      t(s"funnel auto-dispatch ($evN events)")(
        funnelSum(Funnel.foldEventsCap))
      t("retention cohorts")(
        Funnel.retentionCohorts(ev, "ts", "user_id")
          .agg(sum(col("users"))).collect()(0).getLong(0))
      t("transition counts")(
        Funnel.transitionCounts(ev, "ts", "user_id", "event_type", "event_id")
          .agg(sum(col("transitions"))).collect()(0).getLong(0))
      // Sessionization (r10): one user-keyed window pair + session-keyed
      // rollup — the window sort is the suspect term; must grow ~linearly
      // in events at fixed events-per-user.
      val evv = ev.withColumn("value",
        (pmod(xxhash64(col("event_id"), lit(7)), lit(5000)) / lit(100.0)))
      t(s"sessionize ($evN events)")(
        Funnel.sessionize(evv, "ts", "user_id", "event_type", "value", "event_id")
          .agg(sum(col("n_events")) + sum(col("rev_cents")) + sum(col("n_types")))
          .collect()(0).getLong(0))
      t(s"session entry/exit ($evN events)")(
        Funnel.sessionEntryExit(evv, "ts", "user_id", "event_type",
            "event_id", convType = "purchase")
          .agg(sum(col("sessions"))).collect()(0).getLong(0))
      // SCD2 intervals (r10 s5): one entity-keyed lead window — same
      // shuffle class as sessionize; the summing filter forces the
      // window outputs.
      t(s"scd2 intervals ($evN events)")(
        graft.ops.Incremental.scd2Intervals(
            ev.withColumn("operation",
              element_at(array(lit("I"), lit("U"), lit("D")),
                (pmod(xxhash64(col("event_id"), lit(3)), lit(3)) + 1).cast("int"))),
            "user_id", "event_id", "operation")
          .filter(col("valid_to").isNotNull || col("is_current")).count())
      // Mask-aware snapshot apply (r10 s5): ONE entity-keyed aggregation
      // with per-column conditional struct-max — map-side partials, no
      // window; growth must be the keyed-agg shuffle alone.
      t(s"cdc snapshot apply ($evN events)")(
        graft.ops.StateOps.applyCdc(
            ev.withColumn("operation",
              element_at(array(lit("I"), lit("U"), lit("D")),
                (pmod(xxhash64(col("event_id"), lit(3)), lit(3)) + 1).cast("int")))
              .withColumn("value", pmod(xxhash64(col("event_id")), lit(1000)))
              .withColumn("changed",
                when(col("operation") === "U", array(lit("value")))),
            "user_id", "event_id", "operation", "changed", Seq("value"))
          .count())
      // Gap histogram (r10 s5): one user-keyed lag window into a
      // ≤64-bucket rollup — the window sort is the only corpus term, so
      // growth must match sessionize (same shuffle).
      t(s"gap histogram ($evN events)")(
        Funnel.gapHistogram(ev, "ts", "user_id", "event_id")
          .agg(sum(col("n_gaps"))).collect()(0).getLong(0))
      // Error rates (r10 s5): corpus collapses in ONE calendar-keyed
      // aggregation; the RANGE window runs on ≤31 daily rows. Growth must
      // be the map-side scan alone.
      t(s"error rates ($evN events)")(
        Funnel.errorRates(ev, "ts", "event_type")
          .agg(sum(col("roll_err"))).collect()(0).getLong(0))
    }
    // Token-budget selection (r10 s5): one qualityFeatures pass (map-only
    // regex/tokenize) + score-domain rollup (≤10k rows collected) + the
    // bucketed prefix sum over the BOUNDARY score only. Budget scales with
    // the corpus so the boundary stage stays proportionally loaded; expect
    // ~linear in docs.
    t("budget select") {
      import graft.ops.{Assemble, TextOps}
      val scored = TextOps.qualityFeatures(docs, "text")
        .select(col("doc_id"),
          when(col("n_words") > 0,
            expr("CAST(stop_words AS BIGINT) * 10000 div n_words"))
            .otherwise(0L).as("score_bp"),
          col("n_words").cast("long").as("n_tokens"))
      Assemble.budgetSelect(scored, "doc_id", "score_bp", "n_tokens",
        budget = n * 20).count()
    }
    // Source × quality matrix (r10 s5): the decile machinery (bounded
    // quantile sample + broadcast cutpoints) under a sources×10 rollup —
    // map-only after the tokenize; expect ~linear.
    t("source quality matrix")(
      graft.ops.TextOps.sourceQualityMatrix(
          docs.withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(16)))),
          "doc_id", "text", "source")
        .agg(sum(col("n_docs"))).collect()(0).getLong(0))
    // Multimodal growth (r10): REAL javax.imageio / javax.sound decodes
    // over binary rows — previously the only extension family without a
    // measured growth law. Synthesis is materialized UNTIMED
    // (localCheckpoint after an explicit repartition — the round-4
    // single-row-group rule: heavy per-row work needs pre-split input);
    // the timed stages are the per-row header/frame decodes + the framing
    // rollup, embarrassingly parallel map-side work that must grow
    // ~linearly in media rows. count() cannot prune a typed mapPartitions
    // (opaque function barrier), so no forcing filter is needed.
    locally {
      import graft.ops.Multimodal
      import spark.implicits._
      val mmN = math.max(n / 10, 1000L)
      val ids = spark.range(mmN).select(col("id").as("doc_id")).repartition(64)
      val pngs = Multimodal.syntheticImages(ids).localCheckpoint()
      val wavs = Multimodal.syntheticWavs(ids).localCheckpoint()
      val gifs = Multimodal.syntheticGifs(ids).localCheckpoint()
      t(s"mm image decode ($mmN media)")(
        Multimodal.realDecodeMeta(pngs).count())
      t(s"mm audio decode ($mmN media)")(
        Multimodal.realDecodeAudio(wavs).count())
      // r13: REAL multi-frame GIF decode — 3-6 frames per clip, so the
      // per-row constant is ~4-5× the single-image decode; still map-only
      // and must grow ~linearly in media rows.
      t(s"mm gif scene cuts ($mmN media)")(
        Multimodal.realSceneCuts(gifs).count())
      t(s"mm frame energy ($mmN media)") {
        val media = Multimodal.asMedia(
          docs.filter(col("doc_id") % 10 === 0), "text", "audio")
        Multimodal.frameWindows(media, frameBytes = 64, hop = 32)
          .groupBy(col("doc_id")).agg(sum(col("energy"))).count()
      }
    }
    // The relay's export path at data scale: one full-sync cycle over an
    // outbox of `n/10` rows through encode → batch-number → executor-side
    // fan-out (a guarded HTTP endpoint; no files — disk would dominate).
    // Exercises the round-5 distributed shapes: fused count+watermark
    // aggregate, range-partitioned batch numbering, mapPartitions export.
    locally {
      import graft.model.{EnvironmentConfig, SinkEndpoint, TrackingObject}
      val relayRows = n / 10
      val outbox = spark.range(relayRows).select(
        (col("id") + 1).as("id"), (col("id") + 1).as("xact_id"),
        lit("I").as("operation"), (col("id") % 997).cast("double").as("value"),
        concat(lit("""{"k":"""), col("id"), lit("}")).as("props"),
        lit(null).cast("array<string>").as("changed"))
      val root = java.nio.file.Files.createTempDirectory("graft-relay-smoke")
      val store = new graft.state.ParquetStateStore(spark, root.resolve("state").toString)
      val obj = TrackingObject("orders", "db0", "t", "sp")
      val cfg = EnvironmentConfig("prod", "postgres", Seq(obj),
        Seq(SinkEndpoint("ep1", "http", "http://x/{object}/{batch}")))
      val relay = new graft.streaming.ChangeRelay(spark, store, cfg, None)
      store.setWatermark("prod", "orders", 0L)
      t(s"relay full-sync cycle ($relayRows rows)") {
        val (exported, _) = relay.runCycle(obj, outbox, "20240115000000")
        exported
      }
    }

    // Control-state I/O at 32 tracked objects, tiny data ON PURPOSE: rows
    // are small enough that watermark/pause table I/O dominates, so this
    // measures exactly the thing that must NOT scale with object count.
    // The per-object loop commits the O(objects) watermark table once per
    // object (O(objects²) row writes per cycle); the batched cycle reads
    // state once and commits once. Reported rows = store snapshot commits.
    locally {
      import graft.model.{EnvironmentConfig, SinkEndpoint, TrackingObject}
      val objs = (0 until 32).map(i => TrackingObject(s"obj$i", "db0", "t", "sp"))
      val cfg = EnvironmentConfig("prod", "postgres", objs,
        Seq(SinkEndpoint("ep1", "http", "http://x/{object}/{batch}")))
      val outbox = spark.range(200).select(
        (col("id") + 1).as("id"), (col("id") + 1).as("xact_id"),
        lit("I").as("operation"), (col("id") % 97).cast("double").as("value"),
        concat(lit("""{"k":"""), col("id"), lit("}")).as("props"),
        lit(null).cast("array<string>").as("changed")).cache()
      outbox.count()
      def fresh(): (graft.state.ParquetStateStore, graft.streaming.ChangeRelay) = {
        val root = java.nio.file.Files.createTempDirectory("graft-relay-32")
        val store = new graft.state.ParquetStateStore(spark, root.resolve("state").toString)
        store.setWatermarks(objs.map(o => ("prod", o.name, 0L)))
        (store, new graft.streaming.ChangeRelay(spark, store, cfg, None))
      }
      t("relay 32-obj per-object commits") {
        val (store, relay) = fresh()
        objs.foreach(o => relay.runCycle(o, outbox, "20240115000000"))
        store.commitCount
      }
      t("relay 32-obj batched cycle") {
        val (store, relay) = fresh()
        relay.runCycles(objs.map(_ -> outbox), "20240115000000")
        store.commitCount
      }
    }

    // Co-occurrence triangles (r10): baskets ∝ docs with a FIXED 64-item
    // popular head (12.5% of draws) over a linearly growing tail catalog —
    // the real co-purchase shape. The support-2 backbone then stays
    // head-bounded while the pair explode + support groupBy (the corpus
    // term) grows linearly in baskets; the wedge join runs on the bounded
    // backbone. A fixed catalog would instead densify toward the complete
    // graph (quadratic in catalog — a data artifact, round-5 rule e).
    locally {
      import graft.ops.GraphOps
      val txN = n
      val catalog = math.max(1000L, txN / 10)
      val rows = spark.range(txN * 4).select(
        expr("id div 4").as("txn"),
        when(pmod(xxhash64(col("id")), lit(8)) === 0,
            pmod(xxhash64(col("id"), lit(1)), lit(64)))
          .otherwise(lit(64) + pmod(xxhash64(col("id"), lit(2)), lit(catalog)))
          .as("item"))
      t(s"co-occurrence backbone ($txN baskets)")(
        GraphOps.coOccurrenceEdges(rows, "txn", "item", minSupport = 2).count())
      t(s"triangle count ($txN baskets)") {
        val s = GraphOps.triangleSummary(
          GraphOps.coOccurrenceEdges(rows, "txn", "item", minSupport = 2)).head()
        s.getLong(3)
      }
      // Association rules (r10 s4): backbone + one item-keyed count + rule
      // joins on the backbone — the corpus term is the same pair explode,
      // so growth must track the backbone stage.
      t(s"assoc rules ($txN baskets)")(
        GraphOps.associationRules(rows, "txn", "item", minSupport = 2)
          .agg(sum(col("conf_bp")) + sum(col("lift_ppm"))).collect()(0).getLong(0))
      // Backbone components (r10 s4): CC over the support-2 backbone —
      // smallEdgeCap = 0 pins the DISTRIBUTED min-label path (the toy
      // backbone would otherwise take the driver union-find fast path).
      t(s"backbone components ($txN baskets)")(
        graft.ops.DedupOps.connectedComponentsDistributed(
          GraphOps.coOccurrenceEdges(rows, "txn", "item", minSupport = 2)
            .localCheckpoint(), "pa", "pb").count())
    }

    // Distributed PageRank growth (r15): edgeCap = 0 pins the DISTRIBUTED
    // power iteration. The node alphabet GROWS with the corpus
    // (corpus-size-scaled modulus), so both cost terms are exercised: the
    // one corpus-scale edge aggregation and the 8 rounds of node-scale
    // rank joins — growth must be ~linear in edges, never alphabet².
    // Measured 80k→320k edges (4×): distributed 5.94 → 8.01 s (1.35×) —
    // the per-round job floor dominates locally, the data term is far
    // from it. The second row's small FIXED alphabet (250² possible
    // pairs < prSmallEdgeCap) pins the AUTO dispatch onto the driver
    // path, measuring probe + driver iteration as the corpus grows
    // (1.25 → 1.57 s over the same 4× — the edge-agg scan term; the
    // dispatch saves ~4.7 s of round floors on bounded alphabets).
    locally {
      val edgeN = (n * 4).toInt
      val nodeMod = math.max(1000, edgeN / 50)
      def mkEdges(mod: Int) = spark.range(edgeN).select(
        concat(lit("d"), pmod(xxhash64(col("id")), lit(mod))).as("src"),
        concat(lit("d"), pmod(xxhash64(col("id"), lit(1)), lit(mod))).as("dst"))
      t(s"pagerank distributed ($edgeN edges, ~$nodeMod nodes)")(
        graft.ops.GraphOps.pageRank(mkEdges(nodeMod), "src", "dst", edgeCap = 0)
          .agg(sum(col("rank_ppm"))).collect()(0).getLong(0))
      t(s"pagerank driver-dispatch ($edgeN edges, 250-node alphabet)")(
        graft.ops.GraphOps.pageRank(mkEdges(250), "src", "dst")
          .agg(sum(col("rank_ppm"))).collect()(0).getLong(0))
    }

    // Gopher rules + C4 line filters (r12): both are row-local passes
    // (materialized norm/token/line arrays behind Generate barriers +
    // flat regex) — growth must be ~linear in docs with zero exchanges.
    // The summing filters force every feature column under count().
    t("gopher rules")(graft.ops.TextOps.gopherRules(docs, "doc_id", "text")
      .filter(col("symbol_ppm") + col("alpha_word_ppm") + col("n_stop_hits") >= 0)
      .count())
    t("c4 filters")(graft.ops.TextOps.c4Filters(docs, "doc_id", "text")
      .filter(length(col("cleaned_text")) >= 0).count())
    // URL curation (r13): map-only regex normalization + ONE
    // registrable-domain-bounded agg with k-long KMV state. The fixture
    // reuses each doc's id for a deterministic URL, so the domain
    // alphabet stays ~97×7-bounded while docs grow — rollup group count
    // is domain-scale, never corpus-scale, exactly the 100 TB claim.
    locally {
      import graft.ops.UrlOps
      val urls = graft.fixtures.Fixtures.urlDocs(docs)
      // Materialized (doc_id, url) projection: fusing the ~30-when URL
      // SYNTHESIS into the 10-regex normalize stage pushes the generated
      // method past the JIT limit and the stage runs interpreted —
      // measured 12-18 s fused vs ~2 s split per 100k rows (round-7 rule
      // b). Real crawl inputs ARE a stored column, so the split shape is
      // the honest one; the checkpoint is ~70 B/row.
      val urlsMat = urls.select(col("doc_id"), col("url")).localCheckpoint()
      t("url normalize")(UrlOps.normalizeUrls(urlsMat, "url")
        .filter(length(col("url_norm")) + length(col("registrable_domain")) >= 0)
        .count())
      t("domain rollup")(UrlOps.domainRollup(
          UrlOps.normalizeUrls(urls, "url")
            .select(col("registrable_domain"), col("text")),
          "registrable_domain", "text")
        .agg(sum(col("n_tokens")) + sum(col("dup_factor_ppm")))
        .collect()(0).getLong(0))
    }
    // Stratified-quota shape A/B (r13): the window (row_number) draw sorts
    // EVERY row of every stratum — under skew the hot stratum's sort runs
    // in ONE task; the bounded topk_pairs draw keeps k pairs of state per
    // (partition, stratum) map-side and ships only those. Fixture: one hot
    // stratum holds half the corpus, the rest spread over 997. Both orders
    // via SCALE_QUOTA_ORDER=window_first (co-tenant rule).
    locally {
      import graft.ops.Sampling
      val strat = docs.select(
        when(col("doc_id") % 2 === 0, lit("hot"))
          .otherwise(concat(lit("s"), pmod(col("doc_id"), lit(997L)))).as("st"),
        col("doc_id"))
      def bounded(): Unit = t("strat quota bounded (skew)")(
        Sampling.stratifiedQuotaBounded(strat, "st", "doc_id", 8).count())
      def windowed(): Unit = t("strat quota window (skew)")(
        Sampling.stratifiedQuota(strat, "st", "doc_id", 8).count())
      if (sys.env.get("SCALE_QUOTA_ORDER").contains("window_first")) {
        windowed(); bounded()
      } else { bounded(); windowed() }
    }
    // Hybrid RRF (r12): two top-k pools (BM25 global-order window over a
    // poolK-bounded candidate set + brute cosine top-k aggregate) fused by
    // a pool-bounded join — the corpus terms are the one tf pass and the
    // one embedding scan; both ~linear, fusion is k-scale.
    locally {
      val embFull = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      t("hybrid rrf")(graft.ops.TextOps.hybridRrf(docs,
          embFull, "doc_id", "text",
          terms = Seq("spark", "table", "merge"), probeId = 3L)
        .agg(sum(col("rrf_ppb"))).collect()(0).getLong(0))
    }
    // SimHash banded pairs (r10 s4): 60-bit fingerprint aggregate (60
    // map-side sums over the token explode — linear) + 4×15-bit band
    // buckets; on the salted fixture only the copy-0/copy-1 exact-dup
    // cliques share fingerprints, so candidates stay ~linear in docs and
    // the verify join is pair-bounded.
    t("simhash banded pairs")(
      DedupOps.simhashPairs(docs, "doc_id", "text").count())

    val emb0 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val emb = emb0.crossJoin(spark.range(embCopies).withColumnRenamed("id", "c"))
      .select((col("vec_id") + col("c") * 10000000L).as("vec_id"), col("embedding"))
    emb.cache(); val m = emb.count()
    t(s"embedding near-dup ($m)")(Similarity.embeddingNearDup(emb, 0.2).count())
    // PCA power iteration (r10): ONE corpus aggregation with dim²-bounded
    // partials (native gram_matrix) + driver-side rounds — must be ~linear
    // in vectors with a constant job count regardless of m.
    t(s"pca power iteration ($m vecs)")(
      graft.ops.Pca.powerIteration(emb, "embedding", 64).count())
    t(s"multiband near-dup ($m)")(
      Similarity.embeddingNearDupMultiband(emb, 0.2, bands = 3, planesPerBand = 8).count())
    t(s"ivf top-k ($m corpus)")(
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 16), 10,
        numCentroids = 32, nprobe = 3).count())
    // Nearest-centroid classifier (r10): fit = one (label, pos) agg with
    // k×dim-bounded state; eval = broadcast k-row centroid cross join +
    // argmin + bounded confusion rollup. Expect ~linear in vectors.
    t(s"centroid classify ($m vecs)")(graft.ops.Classify.centroidConfusion(
      emb.withColumn("label", pmod(col("vec_id"), lit(10)).cast("int")),
      700, "cent").count())
    // MMR distributed path pinned (smallCap = 0): k map-only argmax rounds
    // over the corpus — job count is k at any size, so growth must track
    // the k linear scans, ~linear in vectors.
    t(s"mmr select ($m corpus)")(
      Similarity.mmrSelect(emb, "vec_id", "embedding", probeId = 0L, k = 8,
        smallCap = 0).count())
    // Label-purity audit growth: the cell self-join is Σ|cell|² pairs, so
    // the centroid count MUST scale with √N to hold cell size (and the
    // stage's work per vector) constant — exactly the deployment rule the
    // scaladoc states. Labels synthesized as vec_id mod 10. smallCap = 0
    // pins the DISTRIBUTED path (like the CC row); the flat companion
    // (twoLevelCells = MaxValue) makes the r12 two-level assignment wiring
    // a same-run A/B at every size — assignment drops N·C → N·2√C while
    // the pair stage is unchanged, so the gap must WIDEN with m.
    locally {
      val labeled = emb.withColumn("label", pmod(col("vec_id"), lit(10)).cast("int"))
      val cents = math.max(32, math.sqrt(m.toDouble).toInt)
      t(s"label audit 2-level ($m, $cents cells)")(
        Similarity.knnLabelAudit(labeled, k = 10, numCentroids = cents,
          smallCap = 0).count())
      t(s"label audit flat ($m, $cents cells)")(
        Similarity.knnLabelAudit(labeled, k = 10, numCentroids = cents,
          smallCap = 0, twoLevelCells = Int.MaxValue).count())
    }
    // SemDeDup growth: the within-cell pairwise stage is Σ|cell|² pairs;
    // with C = √N cells that is N^1.5 — same law as the label audit, and
    // the cell count must self-scale for it to hold. filter(dropped)
    // forces the dominance join (a bare count of the final LEFT join would
    // let Catalyst eliminate the join and with it the work under test).
    locally {
      val cents = math.max(32, math.sqrt(m.toDouble).toInt)
      t(s"semantic dedup 2-level ($m, $cents cells)")(
        Similarity.semanticDedup(emb, 0.2, numCells = cents)
          .filter(col("dropped")).count())
      t(s"semantic dedup flat ($m, $cents cells)")(
        Similarity.semanticDedup(emb, 0.2, numCells = cents,
            twoLevelCells = Int.MaxValue)
          .filter(col("dropped")).count())
      // Deployment rule under cheap assignment (r12 verdict #7): with the
      // two-level quantizer the assignment term is N·2√C, so the optimum
      // shifts from C = √N (which balances FLAT N·C assignment against
      // N²/C pairs) to C = N^(2/3), where assignment N·2·N^(1/3) and the
      // pair stage N²/C both land at ~N^(4/3). This row turns the
      // scaladoc's derivation into a same-run measurement vs the √N rows.
      val cents23 = math.max(32, math.cbrt(m.toDouble * m.toDouble).toInt)
      t(s"semantic dedup 2-level C=N^2/3 ($m, $cents23 cells)")(
        Similarity.semanticDedup(emb, 0.2, numCells = cents23)
          .filter(col("dropped")).count())
    }
    // Two-level coarse-quantizer assignment (r8): S + C/S ≈ 2√C
    // comparisons per vector (route through √C super-cells, refine within
    // one). With the IVF rule C = √N this is the N^1.25 build-cost law the
    // knnLabelAudit scaladoc states; the flat 1-level A/B is recorded in
    // BENCHNOTES "Round-8: two-level IVF assignment A/B". The filter on cid
    // forces the argmax (a bare count would let Catalyst prune the max_by
    // and with it the dot products being measured).
    locally {
      val cc = math.max(32, math.sqrt(m.toDouble).toInt)
      val cells = Similarity.firstK(emb, cc)
      t(s"ivf assign 2-level ($m, $cc cells)")(
        Similarity.ivfTwoLevelAssign(emb, cells)
          .filter(col("cid") >= 0).count())
    }
    // Bounded topk_pairs aggregate: keeps 10 pairs per (partition, query)
    // map-side and ships only those; the rank-window shape it replaced is
    // recorded in BENCHNOTES "Round-8: ANN top-k rank-window → bounded
    // topk_pairs aggregate".
    t(s"brute topk agg ($m corpus)")(
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 16), 10).count())
    spark.stop()
  }
}
