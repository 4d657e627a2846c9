package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Physical-plan discipline (the 100 TB contract): filters reach the
  * parquet scan, column pruning reaches the reader, dimension joins
  * broadcast, and the hot paths stay inside whole-stage codegen. These
  * assertions pin the plans the queries are supposed to produce, so a
  * refactor that silently de-optimizes fails here before it ships. */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def fmt(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }
  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf0001)

  test("s02 incrementing scan pushes its predicate into the parquet reader") {
    val plan = run("s02_incrementing").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,9000)]")
      || plan.contains("GreaterThan(event_id,9000)"), s"predicate not pushed:\n$plan")
  }

  test("q01 flagship broadcasts the customer dim and pushes the shipdate filter") {
    val df = run("q01_flagship")
    df.collect() // force AQE final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"shipdate filter not pushed:\n$plan")
  }

  test("p01 projection prunes the parquet read schema to the used columns") {
    val plan = run("p01_project").queryExecution.executedPlan.toString
    // the envelope JSON needs every column, but the raw-table projection
    // queries must prune: check a direct library path instead
    val pruned = graft.sources.Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_quantity")
    val p2 = pruned.queryExecution.executedPlan.toString
    assert(p2.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning missing:\n$p2")
  }

  test("l04 brute-force top-k broadcasts the query side (no corpus shuffle before scoring)") {
    val df = run("l04_topk_search")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"queries side not broadcast:\n$plan")
  }

  test("l04 top-k shuffles only bounded partial buffers (two-stage, no per-query window)") {
    val df = run("l04_topk_search")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the scored corpus must be reduced map-side by the bounded topK
    // combiner (partial ObjectHashAggregate before the exchange, final
    // after) — a window over q_id would funnel every score for a query
    // into a single task at scale
    assert(!plan.contains("Window"), s"per-query window survived the rewrite:\n$plan")
    val firstAgg = plan.indexOf("ObjectHashAggregate")
    assert(firstAgg >= 0 && plan.indexOf("ObjectHashAggregate", firstAgg + 1) > firstAgg,
      s"no partial+final topK aggregate pair:\n$plan")
  }

  test("text intake expressions (strip_html, unicode_normalize, hilbert_key) codegen cleanly, no fallback") {
    import graft.functions.{TextFunctions => TF}
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    // fallback off: a doGenCode that emits uncompilable Java must FAIL
    // here, not silently drop the stage to interpreted mode in prod
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val docs = graft.sources.Tables.documents(spark, sf0001)
      val df = docs.select(
        TF.normalizeText(TF.stripHtml(col("text"))).as("t"),
        graft.operators.Layout.hilbertKey(
          Seq(col("doc_id"), col("doc_id") + 1), 8).as("h"))
      df.collect()
      val wsc = df.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w }
      assert(wsc.exists(_.collect { case p: ProjectExec => p }.nonEmpty),
        s"intake projection not inside WholeStageCodegen:\n${df.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("l18 mixture is exchange-free per source (projection + filter + explode, no shuffle/window)") {
    import graft.operators.Sampling
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val mix = Sampling.mixCorpora(Seq(
      (docs.where(col("doc_id") % 2 === 0), 3L, "even"),
      (docs.where(col("doc_id") % 2 === 1), 7L, "odd")), "doc_id", totalRows = 200)
    val plan = mix.queryExecution.executedPlan.toString
    // the recipe's ordering/shuffling is the CALLER's composition
    // (deterministicShuffle); the operator itself must stay narrow —
    // a window or exchange here would funnel 100 TB through a sort
    assert(!plan.contains("Exchange"), s"mixture plan shuffles:\n$plan")
    assert(!plan.contains("Window"), s"mixture plan windows:\n$plan")
    assert(plan.contains("Generate"), s"epoch replication not an explode:\n$plan")
  }

  test("WetSink.packBounded is ONE shuffle: the container-cut aggregate reuses the window's shard partitioning") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .where(col("text").isNotNull)
      .select(concat(lit("http://w"), col("doc_id"),
        lit(".example.com/p")).as("url"), col("text"))
    val packed = graft.streaming.WetSink.packBounded(
      docs, "url", "text", maxContainerBytes = 4096, shards = 8)
    packed.collect() // force the AQE final plan
    // hashpartitioning(__shard) from the cumulative-cut window SATISFIES
    // the (shard, seq) aggregate's clustered distribution — a second
    // exchange here would re-shuffle every container byte at 100 TB
    val exchanges = collectWithSubqueries(packed.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e
    }
    assert(exchanges.size === 1,
      s"expected one shuffle, got ${exchanges.size}:\n${packed.queryExecution.executedPlan}")
    val plan = packed.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"packer must not join:\n$plan")
    // the read side is narrow: pages() explodes containers with ZERO
    // exchanges (per-partition byte work, the member-wise walk)
    val back = graft.sources.Warc.pages(packed.localCheckpoint(true), "warc")
    val backEx = collectWithSubqueries(back.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e
    }
    assert(backEx.isEmpty,
      s"pages() must be exchange-free:\n${back.queryExecution.executedPlan}")
  }

  test("j01 dim join is a broadcast hash join, not a shuffle join") {
    val df = run("j01_broadcast")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast:\n$plan")
  }

  test("LSH self-join computes the banded frame once at shuffle scale (ReusedExchange)") {
    // locally AQE broadcasts the small side; at corpus scale the bucket
    // join is a shuffle join, where the whole point of the aliased
    // self-join is that BOTH sides read one exchange — signatures are
    // computed once. Pin that by planning at shuffle scale.
    val conf = spark.conf
    val oldB = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldA = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val docs = graft.sources.Tables.documents(spark, sf0001)
      val simPlan = graft.operators.Dedup
        .simhashCandidates(docs, "text", "doc_id")
        .queryExecution.executedPlan.toString
      assert(simPlan.contains("ReusedExchange"),
        s"simhash self-join sides don't share an exchange:\n$simPlan")
      val mhPlan = graft.operators.Dedup
        .minhashCandidates(docs, "text", "doc_id")
        .queryExecution.executedPlan.toString
      assert(mhPlan.contains("ReusedExchange"),
        s"minhash self-join sides don't share an exchange:\n$mhPlan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldB)
      conf.set("spark.sql.adaptive.enabled", oldA)
    }
  }

  test("l26/l22c boilerplate extraction + quality front half is one narrow pass (no exchange, no join)") {
    // the whole front half — extract, strip, normalize, quality — is
    // per-row expression work: exactly one projection chain over the
    // scan. (The block classifier's lambda HOFs are interpreted
    // expressions — Spark does not codegen lambdafunctions — which is
    // the same per-row cost class as the existing quality HOFs; what
    // this pin protects is the SHAPE: nothing about the corpus
    // shuffles or joins before the dedup stage.)
    import graft.functions.{TextFunctions => TF}
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val front = docs.select(col("doc_id"),
      TF.normalizeText(TF.stripHtml(TF.extractContent(col("text")))).as("clean"))
      .withColumn("q", TF.qualityScore(col("clean")))
    val plan = fmt(front)
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"front half is no longer a narrow per-row pass:\n$plan")
    front.limit(5).collect() // and it executes (regexes compile)
  }

  test("C4 line surgery + Gopher pack + langid floor stay a narrow per-row pass (zero exchanges, no joins)") {
    import graft.functions.{TextFunctions => TF}
    import graft.operators.{C4Rules, GopherRules}
    val docs = graft.sources.Tables.documents(spark, sf0001)
    // the full heuristic text-gate chain as wired at intake: surgery
    // rewrite + keep, then the Gopher verdict — all in-row folds; the
    // pin protects the SHAPE (nothing shuffles or joins pre-dedup)
    val gated = docs.select(col("doc_id"),
        TF.normalizeTextKeepNewlines(TF.stripHtml(col("text"))).as("clean"))
      .where(C4Rules.keeps(col("clean")))
      .withColumn("clean", C4Rules.cleanedText(col("clean")))
      .where(GopherRules.keeps(col("clean")))
    val plan = fmt(gated)
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"gate chain is no longer a narrow per-row pass:\n$plan")
    gated.limit(5).collect() // and it executes
  }

  test("a01 group-by runs partial (map-side) aggregation before the exchange") {
    val plan = run("a01_groupby").queryExecution.executedPlan.toString
    val firstAgg = plan.indexOf("HashAggregate")
    assert(firstAgg >= 0 && plan.indexOf("HashAggregate", firstAgg + 1) > firstAgg,
      s"no partial+final aggregate pair:\n$plan")
  }

  test("a04b sketches distinct pairs without an Expand (no doubled shuffle rows)") {
    val df = run("a04b_approx_distinct_bound")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // countDistinct alongside another aggregate forces Expand (2x the
    // shuffled rows); the dedup-first formulation must never regress to it
    assert(!plan.contains("Expand"), s"a04b regressed to an Expand plan:\n$plan")
  }

  test("l02 applied near-dedup runs the LSH pipeline once (checkpoint barrier)") {
    // nearDedupMinhash materializes dupIds via localCheckpoint, so the
    // anti-join plan must reference the checkpointed RDD — NOT re-inline
    // the LSH pipeline per union branch (the measured multi-x regression
    // the barrier exists to prevent)
    val plan = run("l02_minhash_near_dedup").queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD"), s"checkpoint barrier gone:\n${plan.take(3000)}")
    assert(!plan.contains("xxhash64"),
      s"LSH pipeline re-inlined past the checkpoint barrier:\n${plan.take(3000)}")
  }

  test("l02 minhash hashes each shingle set once (hash array in its own project)") {
    // probe the un-checkpointed operator directly: the 16 signature
    // branches must read the materialized hash-array attribute
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val df = graft.operators.Dedup.minhashCandidates(docs, "text", "doc_id")
    val plan = df.queryExecution.optimizedPlan.toString
    // the 16 signature branches must read the materialized hash-array
    // attribute, not 16 inlined copies of the xxhash64 pass (subexpression
    // elimination skips lambda-containing trees, so inlining = 16x rehash)
    // structural, not a copy-count snapshot: every xxhash64 in the plan
    // must sit inside the materialized `AS __hashes` alias definition.
    // The optimizer may duplicate the banded subtree into any number of
    // logical copies (physical ReusedExchange collapses them) — that's
    // benign and keeps the two counts equal. The regression this guards
    // against (hash pass inlined into the 16 signature branches) puts
    // xxhash64 occurrences in the __sig projection without a matching
    // alias definition, and the counts diverge.
    val hashCount = "xxhash64".r.findAllIn(plan).size
    val aliasCount = "AS __hashes".r.findAllIn(plan).size
    assert(hashCount > 0 && hashCount == aliasCount,
      s"$hashCount xxhash64 occurrences vs $aliasCount '__hashes' alias definitions " +
        s"— hash pass no longer materialized once per copy:\n${plan.take(4000)}")
  }

  test("l04 scoring kernel appears once in the plan (no filter substituted into the join)") {
    val df = run("l04_topk_search")
    val plan = df.queryExecution.optimizedPlan.toString
    // the old pre-aggregation NaN/null where-clause was substituted into
    // the join condition by pushdown, re-evaluating the cosine kernel
    // 2-3x per candidate pair; candidates are now skipped inside the
    // topK combiner instead, so the plan must carry no isnan at all and
    // exactly one cosine per scored pair
    assert(!plan.contains("isnan"), s"NaN filter back in the plan:\n${plan.take(3000)}")
    val kernels = "cosine_q64".r.findAllIn(plan).size
    assert(kernels === 1, s"expected 1 cosine_q64, found $kernels:\n${plan.take(3000)}")
  }

  test("l14 packing windows per shard — never a single global partition") {
    val df = run("l14_pack_sequences")
    val plan = df.queryExecution.executedPlan.toString
    // the cumsum window must be partitioned by the ring shard; a global
    // window (empty partition spec) is one task holding the whole corpus
    assert(plan.contains("windowspecdefinition(shard"),
      s"packing window not partitioned by shard:\n$plan")
    assert(plan.contains("hashpartitioning(shard"),
      s"packing exchange not hash-partitioned on shard:\n$plan")
  }

  test("l15b sharded token-budget window partitions by (group, shard) — no hot-group funnel") {
    val plan = run("l15b_token_budget_sharded").queryExecution.executedPlan.toString
    // the cumsum window must carry BOTH keys: group alone re-creates the
    // dominant-language straggler this operator exists to fix
    assert(plan.contains("windowspecdefinition(lang") && plan.contains("__shard"),
      s"sharded budget window not partitioned by (lang, __shard):\n$plan")
    assert(plan.contains("hashpartitioning(lang") && plan.contains("__shard"),
      s"exchange not hash-partitioned on (lang, __shard):\n$plan")
  }

  test("l04c/l04d IVF probe join broadcasts the probes (corpus shuffles on list id only)") {
    // the probed join's small side is queries × nProbe rows — it must
    // broadcast, or the whole assigned corpus shuffles per probe set
    for (name <- Seq("l04c_ivf_topk", "l04d_ivf_planted_recall")) {
      val df = run(name)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
        s"$name: probes not broadcast:\n$plan")
    }
  }

  test("l08c PNG decode never shuffles payload bytes (one exchange, scalars only)") {
    val df = run("l08c_png_decode")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // generate → decode → featurize are narrow mapPartitions; the ONLY
    // exchange is the final sort over (doc_id, scalar features), which
    // sits above the projection that dropped the payload — at 100 TB the
    // image bytes must never ride a shuffle
    // AQE's toString repeats the tree under "== Initial Plan ==" — count
    // exchanges in the final section only
    val finalSection = plan.split("== Initial Plan ==").head
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(finalSection).size
    assert(exchanges == 1,
      s"expected exactly the final sort exchange, got $exchanges:\n$finalSection")
  }

  test("l01b incremental dedup prunes the history scan to the text column") {
    val df = run("l01b_incremental_dedup")
    val plan = df.queryExecution.executedPlan.toString
    // the history side exists only to say "this text was seen" — its
    // parquet scan must read one column, not the document payload row
    assert(plan.contains("ReadSchema: struct<text:string>"),
      s"history scan not pruned to text-only:\n$plan")
  }

  test("l02h incremental probe: history sides of the band and verify joins have NO exchange") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // root-to-node path through a plain (non-AQE) physical tree
    def pathTo(p: SparkPlan, pred: SparkPlan => Boolean): Option[List[SparkPlan]] =
      if (pred(p)) Some(List(p))
      else p.children.iterator.flatMap(c => pathTo(c, pred)).nextOption().map(p :: _)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    Dedup.BandHistory.drop(spark, "t_plan_hist")
    val conf = spark.conf
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    val oldB = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid broadcast (the 100 TB probe is a shuffle-side join; with a
      // broadcast batch the pin would be vacuous) and AQE (plain tree walk)
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Dedup.writeBandHistory(docs, "text", "doc_id", "t_plan_hist", numBuckets = 4)
      val batch = docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 900000).as("doc_id"), concat(col("text"), lit(" zz")).as("text"))
      val pairs = Dedup.minhashIncremental(spark, batch, "t_plan_hist", "text", "doc_id")
      val plan = pairs.queryExecution.executedPlan
      for (table <- Seq("t_plan_hist", "t_plan_hist_sh")) {
        val path = pathTo(plan,
            p => p.children.isEmpty && p.toString.contains(s"default.$table["))
          .getOrElse(fail(s"no scan of $table in plan:\n$plan"))
        // segment strictly between the nearest ancestor JOIN and the scan:
        // the history rows must flow into the join straight off the
        // bucketed layout — sorts are fine, exchanges are the bug
        val joinIdx = path.lastIndexWhere(_.nodeName.toLowerCase.contains("join"))
        assert(joinIdx >= 0, s"no join above the $table scan:\n$plan")
        val histSide = path.drop(joinIdx + 1)
        assert(!histSide.exists(_.isInstanceOf[ShuffleExchangeLike]),
          s"exchange on the history side above $table:\n${histSide.mkString("\n")}")
      }
      // and the probe still finds pairs through the bucketed layout
      assert(pairs.where(col("jaccard") >= 0.8).count() > 0)
    } finally {
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldB)
      Dedup.BandHistory.drop(spark, "t_plan_hist")
    }
  }

  test("l35b paragraph probe: the _pg history side flows scan → join with NO exchange") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def pathTo(p: SparkPlan, pred: SparkPlan => Boolean): Option[List[SparkPlan]] =
      if (pred(p)) Some(List(p))
      else p.children.iterator.flatMap(c => pathTo(c, pred)).nextOption().map(p :: _)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val table = "t_plan_pg"
    Dedup.ParagraphHistory.drop(spark, table)
    val conf = spark.conf
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      Dedup.writeParagraphHistory(docs, "text", "doc_id", table, numBuckets = 4)
      val batch = docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 900000).as("doc_id"),
          concat(lit("fresh line\n"), col("text")).as("text"))
      val out = Dedup.paragraphIncrementalDelta(spark, batch, table, "text", "doc_id")
      val plan = out.queryExecution.executedPlan
      val path = pathTo(plan,
          p => p.children.isEmpty && p.toString.contains(s"default.${table}_pg["))
        .getOrElse(fail(s"no scan of ${table}_pg in plan:\n$plan"))
      val joinIdx = path.lastIndexWhere(_.nodeName.toLowerCase.contains("join"))
      assert(joinIdx >= 0, s"no join above the ${table}_pg scan:\n$plan")
      val histSide = path.drop(joinIdx + 1)
      assert(!histSide.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"exchange on the history side above ${table}_pg:\n${histSide.mkString("\n")}")
      // and the probe behaves: history bodies die, fresh lines survive
      val texts = out.collect().map(r => r.getString(1))
      assert(texts.nonEmpty && texts.forall(_ == "fresh line"))
    } finally {
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      Dedup.ParagraphHistory.drop(spark, table)
    }
  }

  test("l38 span dedup: canonical-occurrence resolution is a partial-agg groupBy, never a window") {
    import graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val conf = spark.conf
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false") // plain tree walk
      val out = Dedup.repeatedSpanDedup(docs, "text", "doc_id", k = 12)
      val plan = out.queryExecution.executedPlan
      // a window over the gram hash would funnel a mass-duplicated
      // span's every occurrence through one sort task — the operator
      // must use map-side-combining aggregation instead (struct-min
      // plans as SortAggregate: still Partial before the exchange)
      assert(!plan.exists(_.nodeName.contains("Window")),
        s"span dedup must not plan a Window:\n$plan")
      val partialAggs = plan.collect {
        case h: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if h.aggregateExpressions.exists(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => h
      }
      assert(partialAggs.nonEmpty,
        s"canonical resolution must partial-agg before the exchange:\n$plan")
      // semantics are l38's oracle's job; here just prove the plan runs
      // (the synthetic word-soup fixture has a few natural 12-gram
      // repeats, so some docs legitimately shrink or drop)
      val n = out.count()
      assert(n > 0 && n <= docs.count())
    } finally conf.set("spark.sql.adaptive.enabled", oldAqe)
  }

  test("l39 classifier scoring is a pure projection: ZERO exchanges, no join, model as a literal") {
    import graft.operators.{QualityClassifier => QC}
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    // a representative trained-shape model (weights sparse, bias set)
    val model = QC.LrModel(512, 12345L,
      Map(3 -> 250000L, 17 -> -310000L, 400 -> 90000L))
    val plan = docs.select(col("doc_id"),
        QC.scoreMicroColumn(col("text"), model).as("p"))
      .queryExecution.executedPlan
    // the 100 TB contract: scoring must never explode, join, or
    // shuffle — the weights ride as a map literal inside one projection
    assert(!plan.exists(n => n.nodeName.contains("Exchange") ||
      n.nodeName.contains("Join") || n.nodeName.contains("Generate")),
      s"classifier scoring must stay a narrow projection:\n$plan")
  }

  test("l40 url dedup: canonical resolution is a partial-agg groupBy; the hot branch plans a broadcast join") {
    import graft.operators.{UrlOps => U}
    val urls = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        concat(lit("http://h"), col("doc_id") % 5, lit(".example.com/p"))
          .as("url"))
    val conf = spark.conf
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false") // plain tree walk
      val plan = U.urlDedup(urls, "url", "doc_id")
        .queryExecution.executedPlan
      assert(!plan.exists(_.nodeName.contains("Window")),
        s"url dedup must not plan a Window:\n$plan")
      val partialAggs = plan.collect {
        case h: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if h.aggregateExpressions.exists(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => h
      }
      assert(partialAggs.nonEmpty,
        s"canonical resolution must partial-agg before the exchange:\n$plan")
      // the lossless hot-key isolation's hot leg is a broadcast join —
      // a mass-crawled URL peels off map-side, never through a shuffle
      assert(plan.exists(_.nodeName.contains("BroadcastHashJoin")),
        s"hot branch must plan a broadcast join:\n$plan")
    } finally conf.set("spark.sql.adaptive.enabled", oldAqe)
  }

  test("l01c broadcastable-batch incremental dedup: ZERO shuffle exchanges end-to-end") {
    import graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val batch = docs.where(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 900000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    // the operator itself (no orderBy — a sort would range-shuffle):
    // both joins must be broadcast, so the history side flows scan →
    // join with no exchange anywhere in the plan. AQE off for a plain
    // tree walk (the l02h pattern)
    val conf = spark.conf
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val df = Dedup.exactIncrementalProbe(batch, docs, "text", "doc_id")
      assert(df.count() > 0)
      val plan = df.queryExecution.executedPlan
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty,
        s"expected zero shuffle exchanges, got ${shuffles.size}:\n$plan")
      assert(plan.toString.contains("BroadcastExchange"),
        s"probe joins not broadcast:\n$plan")
    } finally conf.set("spark.sql.adaptive.enabled", oldAqe)
  }

  test("p15 config-parsed SMT chain fuses into whole-stage codegen like the hand-written ones") {
    // the config parser must not cost plan quality: the 5-transform
    // chain is the same composed projection Catalyst fuses for p01-p14
    val df = run("p15_config_chain")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"config chain lost codegen:\n${plan.take(3000)}")
  }

  test("star queries stay inside whole-stage codegen (no interpreted hot path)") {
    Seq("a01_groupby", "j02_equi", "w01_rank").foreach { q =>
      val df = run(q)
      df.collect() // AQE: codegen spans only appear in the final plan
      val plan = df.queryExecution.executedPlan.toString
      // codegen spans print as "WholeStageCodegen" or the compact "*(n)"
      assert(plan.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
        s"$q lost codegen:\n$plan")
    }
  }
}
