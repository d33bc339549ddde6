package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan-quality regression gates (the .explain discipline as tests):
  * filters must reach the parquet scan, projections must prune the read
  * schema, dims must broadcast, top-k must use the partial group-limit.
  * These shapes are what make the same query text survive a 100 TB input;
  * a silent regression here would still pass every value-correctness gate.
  */
class PlanQualitySpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(df: DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }

  test("q1: shipdate filter pushed into the parquet scan; columns pruned") {
    val plan = executedPlan(SparkEntry.queries("q1_pricing_summary")(spark, dir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey")) // untouched column not read
  }

  test("j1: dimension joins are broadcast, no shuffle on the fact side for lookups") {
    val plan = executedPlan(SparkEntry.queries("j1_broadcast_join")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("o1: per-group top-k is a bounded-heap aggregate — no sort anywhere " +
    "on the fact input, partial agg before the shuffle") {
    // heap agg (ObjectHashAggregate over topk_rows) replaces the window:
    // WindowGroupLimit's partial pass still SORTS every input partition;
    // the heap's survivors (groups x k rows) are all that reach the shuffle
    val plan = executedPlan(SparkEntry.queries("o1_topk_per_group")(spark, dir))
    assert(plan.contains("ObjectHashAggregate") && plan.contains("topk_rows"))
    assert(plan.contains("partial_topk_rows"), "map-side partial heap expected")
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("Sort ["),
      s"no sort may remain on the top-k path:\n$plan")
  }

  test("o2: global top-k is TakeOrderedAndProject, not a full sort") {
    val plan = executedPlan(SparkEntry.queries("o2_global_topk")(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("t1: documents scan reads only (doc_id, text)") {
    val plan = executedPlan(SparkEntry.queries("t1_doc_stats")(spark, dir))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"))
  }

  test("s1: query side broadcasts; native cosine appears in the plan") {
    val plan = executedPlan(SparkEntry.queries("s1_brute_topk")(spark, dir))
    assert(plan.contains("Broadcast"))
    assert(plan.contains("graft_cosine"))
  }

  test("aggregations run partial+final (map-side combine)") {
    val plan = executedPlan(SparkEntry.queries("a2_group_agg")(spark, dir))
    assert(plan.contains("partial_avg") || plan.contains("HashAggregate"))
    assert("HashAggregate".r.findAllIn(plan).size >= 2) // partial + final
  }

  test("q5: nation/region dims broadcast; region filter reaches the region scan") {
    val plan = executedPlan(SparkEntry.queries("q5_local_volume")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"))
    // the ASIA filter is written post-join in the fluent chain; Catalyst
    // must push it through the broadcast joins into the region scan
    assert(plan.contains("EqualTo(r_name,ASIA)"))
  }

  test("q18: HAVING on grouped sum keeps partial+final agg, single fact shuffle") {
    val plan = executedPlan(SparkEntry.queries("q18_large_orders")(spark, dir))
    assert("HashAggregate".r.findAllIn(plan).size >= 2) // partial + final
    // top-k after the HAVING filter must stay TakeOrderedAndProject
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("d3: LSH banding runs the native codegen expression, not HOF transform") {
    val plan = executedPlan(SparkEntry.queries("d3_lsh_buckets")(spark, dir))
    assert(plan.contains("graft_lsh_bands"))
    // the round-2 formulation computed bands via interpreted
    // transform(...aggregate...) lambdas — ~150x slower; its reappearance
    // in the hot path is a perf regression even with identical output
    assert(!plan.contains("transform(minhash"))
  }

  test("q7: both nation copies broadcast; disjunctive pair filter above them") {
    val plan = executedPlan(SparkEntry.queries("q7_nation_volume")(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"))
  }

  test("t11: chunk plan's running sum partitions by shard, never a global sort") {
    val plan = executedPlan(SparkEntry.queries("t11_chunk_plan")(spark, dir))
    // the packing window must hash-partition on the shard key; a window
    // over a global order would plan Exchange SinglePartition — one task
    // does all the work, the anti-scale shape this query exists to avoid
    assert(plan.contains("hashpartitioning(source"))
    assert(!plan.contains("SinglePartition"))
  }

  test("global: no registered query plans a CartesianProduct") {
    // 1-row statistics joins compile to BroadcastNestedLoopJoin (fine);
    // an actual CartesianProduct anywhere means a join lost its keys —
    // the single worst thing a 100 TB plan can contain.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = executedPlan(fn(spark, dir))
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"CartesianProduct in: $offenders")
  }

  test("d2: exact dedup partial-aggregates map-side; no window over full rows") {
    // the r4 shape was row_number() over Window.partitionBy(md5(text)) —
    // every row (text included) through one exchange, no map-side
    // reduction, because window functions cannot partial-aggregate. The
    // min_by shape must keep a partial agg before the exchange (at most
    // one candidate row per distinct content per map task crosses the
    // wire) and no Window node anywhere.
    val plan = executedPlan(SparkEntry.queries("d2_exact_dedup")(spark, dir))
    assert(plan.contains("partial_min_by"))
    assert(!plan.contains("Window"))
  }

  test("d6: curation funnel dedups via a narrow aggregate — no window, no text in the agg") {
    val plan = executedPlan(SparkEntry.queries("d6_curation_funnel")(spark, dir))
    assert(plan.contains("partial_min_by"))
    assert(!plan.contains("Window"))
    // the funnel's dedup only needs (source, quality) per keeper, so the
    // min_by payload — and therefore the shuffle — must not carry the text
    val aggLines = plan.linesIterator.filter(_.contains("min_by")).toSeq
    assert(aggLines.nonEmpty && aggLines.forall(!_.contains("text#")))
  }

  test("s2: SRP bucketing is the native expression, no inlined plane literals") {
    // the typedLit-plane formulation inlined nPlanes*nTables*dim doubles
    // into the generated code and became the per-row bottleneck at 100x
    // corpus (26.9s vs 1.7s native, docs/SCALE_PROBE.md) — pin the native
    // expression and the absence of wide literal arrays.
    // Gated on the SEARCH FUNCTION directly (the d16-gate pattern): the
    // registered s2 query's returned plan is the rescore of its candidate
    // dump, so the bucketing/DPP shapes under test live in the function
    // (and in the dump-write plan, which the candidate-dump gate covers).
    val emb = Tables.embeddings(spark, dir)
    val idx = graft.sim.SrpIndex.ensure(spark, dir, emb, nTables = 12)
    val plan = executedPlan(graft.sim.Similarity.annTopKIndexed(
      idx, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 8), k = 5))
    assert(plan.contains("graft_srp_bucket"))
    assert(!plan.contains("[-1.0,") && !plan.contains("[1.0,"))
    // the corpus side comes from the persisted SrpIndex: (a) the probe
    // scan prunes unprobed bucket-groups via dynamic partition pruning —
    // at 100 TB the scan reads the probed groups, not the corpus — and
    // (b) the candidate branch reads only the id and bucket keys: no
    // quantized arrays, no embedding bytes, until the exact-cosine join
    // back to the one-row-per-vector frame
    // the scan carrying the DPP filter IS the index scan (Location paths
    // are truncated in plan strings, so key on the filter, not the path)
    assert(plan.linesIterator.exists(l =>
      l.contains("dynamicpruningexpression(__grp") &&
        l.contains("ReadSchema: struct<neighbor_id:bigint,__t:int,__b:bigint>")),
      "index scan must DPP-prune to the probed bucket-groups and read " +
        "only (neighbor_id, __t, __b)")
  }

  test("d16: LshIndex probe scan DPP-prunes to the probed bucket-groups") {
    // the registered d16 query's RETURNED plan is the verify stage over
    // the dump (like d13/d15), so gate the candidate-generation join
    // directly: batch buckets broadcast, standing index scan pruned to
    // the groups the batch actually probes — at 100 TB the scan reads
    // probed groups, not the corpus
    val docs = Tables.documents(spark, dir)
    graft.dedup.LshIndex.drop(dir, subset = "planspec")
    val idx = graft.dedup.LshIndex.ensure(spark, dir,
      docs.filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(10)) =!=
        org.apache.spark.sql.functions.lit(0)), subset = "planspec")
    val batch = docs.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(10)) ===
      org.apache.spark.sql.functions.lit(0))
    val plan = executedPlan(
      graft.dedup.Dedup.incrementalCandidatePairsIndexed(idx, batch, "doc_id", "text"))
    assert(plan.contains("BroadcastHashJoin"),
      "batch bucket table must broadcast into the index join")
    assert(plan.linesIterator.exists(l =>
      l.contains("dynamicpruningexpression(__grp") &&
        l.contains("ReadSchema: struct<doc_id:bigint,band:int,bucket:bigint,bsize:bigint>")),
      "index scan must DPP-prune to the probed bucket-groups and read " +
        "only (doc_id, band, bucket, bsize)")
    // the occupancy cap must be a pushed scan-level filter, not a
    // per-probe aggregation over the standing index
    assert(plan.contains("LessThanOrEqual(bsize"),
      "bucket-occupancy cap must push down to the index scan")
    graft.dedup.LshIndex.drop(dir, subset = "planspec")
  }

  test("d18: HashLedger probe scan DPP-prunes to the probed hash-groups " +
    "and reads only the content address") {
    // the membership check must run as ledger ⋈ broadcast(batch) inner
    // join (PartitionPruning does not fire for the natural anti join —
    // HashLedger's probe-shape note): batch hashes broadcast, standing
    // scan pruned to the hash-groups the batch actually probes, and the
    // ledger branch reads ONLY the 32-char address — at 100 TB the scan
    // reads probed groups of a hash-only table, never corpus text
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val docs = Tables.documents(spark, dir)
    graft.dedup.HashLedger.drop(dir, subset = "planspec")
    val ledger = graft.dedup.HashLedger.ensure(spark, dir,
      docs.filter(pmod(col("doc_id"), lit(10)) =!= lit(0)), subset = "planspec")
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === lit(0))
    val plan = executedPlan(
      graft.dedup.Dedup.incrementalExactNewIndexed(ledger, batch, "doc_id", "text"))
    assert(plan.contains("BroadcastHashJoin"),
      "batch hash table must broadcast into the ledger join")
    assert(plan.linesIterator.exists(l =>
      l.contains("dynamicpruningexpression(__grp") &&
        l.contains("ReadSchema: struct<content_md5:string>")),
      "ledger scan must DPP-prune to the probed hash-groups and read " +
        "only content_md5")
    graft.dedup.HashLedger.drop(dir, subset = "planspec")
  }

  test("m12: digest-ledger probe DPP-prunes and reads only the content address") {
    // the media twin of the d18 gate: batch digests broadcast into the
    // ledger inner join, standing scan pruned to the probed hash-groups,
    // ledger branch reads ONLY the 32-char address — at 100 TB the scan
    // never touches a blob byte or re-decodes a corpus image
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.multimodal.Multimodal
    val media = Multimodal.syntheticDupImageTable(spark, dir)
    graft.dedup.HashLedger.drop(dir, subset = "planspec_png")
    val ledger = Multimodal.ensureDigestLedger(spark, dir,
      media.filter(pmod(col("media_id"), lit(10)) =!= lit(0)), subset = "planspec_png")
    val batch = media.filter(pmod(col("media_id"), lit(10)) === lit(0))
    val plan = executedPlan(Multimodal.incrementalContentNewIndexed(ledger, batch))
    assert(plan.contains("BroadcastHashJoin"),
      "batch digest table must broadcast into the ledger join")
    assert(plan.linesIterator.exists(l =>
      l.contains("dynamicpruningexpression(__grp") &&
        l.contains("ReadSchema: struct<content_md5:string>")),
      "ledger scan must DPP-prune to the probed hash-groups and read " +
        "only content_md5")
    graft.dedup.HashLedger.drop(dir, subset = "planspec_png")
  }

  test("s7: int8 ANN pair dedup is a hash aggregate; quantized arrays never shuffle") {
    // The pair-stream dedup must stay groupBy().agg(max(<double>)) — a
    // partial+final HashAggregate whose exchange carries one score per
    // candidate. dropDuplicates here planned a SortAggregate carrying
    // first(<quantized array>) through two exchanges (caught in the r7
    // ledger review); this pins the fix.
    // Gated on the SEARCH FUNCTION directly (see the s2 gate note): the
    // registered s7 query's returned plan is the rescore of its survivor
    // dump.
    val emb = Tables.embeddings(spark, dir)
    val idx = graft.sim.SrpIndex.ensure(spark, dir, emb, nTables = 12)
    val plan = executedPlan(graft.sim.Similarity.annTopKInt8Indexed(
      idx, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 8),
      k = 5, rerank = 32))
    assert(plan.contains("partial_max"))
    assert(!plan.contains("SortAggregate"))
    // no aggregate buffers over the int8 vector columns
    assert(!plan.linesIterator.exists(l =>
      l.contains("Aggregate") && (l.contains("__qc#") || l.contains("__qq#"))))
    // the QUERY side still buckets live: it must be the custom generator
    // (the builtin explode's InferFiltersFromGenerate collapsed a
    // size()>0 filter into the scan that re-derived ALL buckets per row —
    // cost ∝ planes, measured at the ×100 probe), with the quantized
    // query vector materialized BELOW it (attribute pass-through). The
    // CORPUS side must NOT bucket at all anymore — its buckets come off
    // the persisted SrpIndex scan.
    val gens = plan.linesIterator.filter(_.contains("Generate graft_srp_buckets")).toSeq
    assert(gens.nonEmpty, "query bucketing must use the SrpBucketsGenerator")
    assert(gens.exists(_.contains("__qq#")))
    // no builtin explode over BUCKET DERIVATIONS (inferred-filter trap:
    // InferFiltersFromGenerate would put size(<all buckets>)>0 on the
    // scan, re-deriving every bucket per row). The topk_rows heap output
    // is exempt: exploding a per-group k-element array infers only a
    // size()>0 over the agg result — nothing scan-side recomputes.
    val badExplodes = plan.linesIterator.filter(l =>
      l.contains("Generate explode") &&
        !l.contains("_extract_neighbor_id") && !l.contains("__top"))
    assert(badExplodes.isEmpty,
      s"builtin explode over a derivation in the SRP path:\n${badExplodes.mkString("\n")}")
    // persisted-index probe shape (the s8/__cell pattern on bucket-groups):
    // prune unprobed groups at scan time, and read the quantized pair plus
    // bucket keys only — the float embedding bytes stay on disk until the
    // top-rerank rescore against the one-row-per-vector frame
    // the scan carrying the DPP filter IS the index scan (Location paths
    // are truncated in plan strings, so key on the filter, not the path)
    assert(plan.linesIterator.exists(l =>
      l.contains("dynamicpruningexpression(__grp") && l.contains(
        "ReadSchema: struct<neighbor_id:bigint,__qc:array<tinyint>,__sc:double,__t:int,__b:bigint>")),
      "index scan must DPP-prune to the probed bucket-groups and read " +
        "(id, quantized pair, bucket keys) only — no embedding bytes")
  }

  test("s8: int8 IVF prerank shuffle carries scores only, not quantized arrays") {
    // The prerank heap agg repartitions the candidate pairs by query id.
    // Column pruning must have dropped the tinyint vectors (__qc/__qq) by
    // then — the integer dot is projected map-side in the broadcast-join
    // stage — so the only pair-stream exchange ships (query, neighbor,
    // score). A regression here (e.g. scoring moved above the prerank)
    // re-ships 1-byte-per-dim arrays through the dominant shuffle.
    // Gated on the SEARCH FUNCTION directly (see the s2 gate note): the
    // registered s8 query's returned plan is the rescore of its survivor
    // dump.
    val emb = Tables.embeddings(spark, dir)
    val (assigned, cents) = graft.sim.IvfIndex.ensure(spark, dir, emb)
    val plan = executedPlan(graft.sim.Similarity.ivfTopKInt8Assigned(
      assigned, cents, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 8),
      k = 5, rerank = 16))
    // both the prerank and the final rank are the bounded-heap aggregate —
    // no candidate-set sorts anywhere in the rerank pipeline
    assert(plan.contains("partial_topk_rows"))
    assert(!plan.contains("WindowGroupLimit"))
    // SHUFFLE exchanges and sorts must never carry the quantized arrays.
    // Broadcasts: the 8-row quantized QUERY side (__qq) is the design —
    // and the DPP subquery re-renders that same BroadcastExchange — but a
    // broadcast carrying the CORPUS-side __qc would mean the whole
    // quantized corpus ships to every executor; forbid that too
    assert(!plan.linesIterator.exists { l =>
      val exchangeOrSort = l.contains("Exchange") || l.contains("Sort ")
      val broadcastOk = l.contains("BroadcastExchange") || l.contains("ReusedExchange")
      exchangeOrSort &&
        (if (broadcastOk) l.contains("__qc#")
         else l.contains("__qc#") || l.contains("__qq#"))
    })
    // the probe-cell Generate is the custom generator (exploding the
    // scalar's array let InferFiltersFromGenerate re-run the whole
    // O(nCells·dim) probe selection inside the query scan's filter) and
    // passes the quantized query vector through (pass-through attribute
    // list) instead of recomputing it per probed cell
    val gens = plan.linesIterator.filter(_.contains("Generate graft_nearest_cells_gen")).toSeq
    assert(gens.nonEmpty, "probe cells must come from NearestCellsGenerator")
    assert(gens.exists(_.contains("__qq#")))
    assert(!plan.contains("size(graft_nearest_cells"),
      "no inferred size() filter may re-run probe selection in the scan")
    // the persisted-index scan must (a) prune unprobed cell partitions via
    // dynamic partition pruning — at 100 TB the scan reads the probed
    // cells, not the corpus — and (b) read only (vec_id, __qc, __sc) in
    // the candidate branch: the float embedding bytes stay on disk until
    // the top-rerank rescore
    assert(plan.contains("dynamicpruningexpression(__cell"),
      "index scan must dynamic-partition-prune to the probed cells")
    assert(plan.linesIterator.exists(l =>
      l.contains("ivf_index") &&
        l.contains("ReadSchema: struct<vec_id:bigint,__qc:array<tinyint>,__sc:double>")),
      "candidate branch must not read embedding bytes from the index")
  }

  test("d11: epoch shuffle windows per shard — no single-partition sort") {
    // the reproducible-training-order claim rests on per-shard windows;
    // a regression to a global row_number() would plan
    // 'Window [...], []' (empty partition spec) and serialize the corpus
    val plan = executedPlan(SparkEntry.queries("d11_epoch_shuffle")(spark, dir))
    assert(plan.contains("Window"))
    assert(!plan.linesIterator.exists(l =>
      l.contains("windowspecdefinition") && l.contains("], [],")),
      "epoch shuffle must not plan an unpartitioned window")
    assert(plan.contains("hashpartitioning(shard"))
  }

  test("d7/d8: hash-split and source-mix scan only (text, source), agg is partial+final") {
    for (q <- Seq("d7_hash_split", "d8_source_mix")) {
      val plan = executedPlan(SparkEntry.queries(q)(spark, dir))
      val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
      assert(readSchema.contains("text") && readSchema.contains("source"), q)
      assert(!readSchema.contains("doc_id") && !readSchema.contains("lang") &&
             !readSchema.contains("n_chars"), q) // untouched columns pruned
      assert(plan.contains("partial_count"), q) // map-side combine
    }
    // d8's sampling predicate is a pure map-side filter evaluated at the
    // scan (DataFilters), so rejected rows never reach the exchange
    val d8 = executedPlan(SparkEntry.queries("d8_source_mix")(spark, dir))
    assert(d8.contains("PushedFilters: [IsNotNull(text)]"))
  }

  test("w9: range-rolling is one keyed window, never a single-partition sort") {
    val plan = executedPlan(SparkEntry.queries("w9_range_rolling")(spark, dir))
    assert(plan.contains("hashpartitioning(user_id"))
    assert(plan.contains("RangeFrame"))
    assert(!plan.contains("SinglePartition")) // a global window would be one
  }

  test("o3: INTERSECT/EXCEPT compile to semi/anti joins, not nested loops") {
    val plan = executedPlan(SparkEntry.queries("o3_set_ops")(spark, dir))
    assert(plan.contains("LeftSemi"))
    assert(plan.contains("LeftAnti"))
  }

  test("bucketed tables: equi-join on the bucket key plans zero exchanges") {
    // SURVEY §4.2: bucketing pays the shuffle once at write time; every
    // downstream join/agg on the bucket key must then run shuffle-free.
    // Broadcast is disabled for the assertion — at 100 TB neither side
    // broadcasts, so the plan under test is the sort-merge join the
    // cluster would actually run.
    import org.apache.spark.sql.functions.col
    val wh = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.sink.Sinks.writeBucketed(
        Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice"),
        "li_bucketed", Seq("l_orderkey"), nBuckets = 4,
        path = Some(s"$wh/li"), sortCols = Seq("l_orderkey"))
      graft.sink.Sinks.writeBucketed(
        Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
        "ord_bucketed", Seq("o_orderkey"), nBuckets = 4,
        path = Some(s"$wh/ord"), sortCols = Seq("o_orderkey"))
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "o_orderpriority", "l_extendedprice")
      val plan = executedPlan(joined)
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed join must not re-shuffle either side")
      assert(plan.contains("SelectedBucketsCount")) // scan really is bucketed
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("j7: bucketed-mirror fact join plans zero exchanges and zero sorts") {
    // The registered first-class surface of the bucketed-layout lever
    // (the standalone writeBucketed gate above proves the mechanism on a
    // throwaway table; this pins the REGISTERED query): both fact scans
    // must come from the bucketed mirror (SelectedBucketsCount), the
    // sort-merge join must consume the write-time distribution AND
    // in-bucket sort order (no Exchange hashpartitioning, no Sort), and
    // the aggregate must ride the same distribution. One shuffle here
    // would re-pay at every run exactly what the mirror paid once.
    val plan = executedPlan(SparkEntry.queries("j7_bucketed_large_orders")(spark, dir))
    assert(plan.contains("SortMergeJoin"))
    assert(plan.contains("SelectedBucketsCount"))
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucketed mirror join must not re-shuffle either side")
    // no Sort OPERATOR may appear (the SortMergeJoin node name itself
    // contains the substring, so match the operator's "Sort [" form)
    assert(!"""(?m)\bSort \[""".r.findFirstIn(plan).isDefined,
      "bucketed mirror join must consume the write-time in-bucket sort")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("j8: q3 shape reuses j7's mirrors — zero exchanges/sorts on the fact join") {
    // the mirror doc's "one mirror serves every query on the key" as a
    // gate: j8 is the q3 3-way shape consuming the SAME orderkey mirrors
    // j7 built. The dim join broadcasts (customer side), so the streamed
    // orders side keeps its bucketing; the fact⋈fact SMJ and the group-by
    // both ride the write-time layout — the only exchange in the plan is
    // the customer broadcast.
    val plan = executedPlan(SparkEntry.queries("j8_bucketed_shipping_priority")(spark, dir))
    assert(plan.contains("SortMergeJoin"))
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("SelectedBucketsCount"))
    assert(!plan.contains("Exchange hashpartitioning"),
      "mirror-backed q3 must not re-shuffle either fact side")
    assert(!"""(?m)\bSort \[""".r.findFirstIn(plan).isDefined,
      "mirror-backed q3 must consume the write-time in-bucket sort")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("j10: q10 shape on the mirrors — fact join zero-exchange, only the " +
    "custkey aggregate shuffles") {
    // third consumer of the shared orderkey mirrors: the dim side
    // (customer⋈nation) broadcasts, the fact⋈fact orderkey SMJ rides the
    // write-time layout, and the only hash exchange left is the final
    // c_custkey group-by over the join-reduced rows
    val plan = executedPlan(SparkEntry.queries("j10_bucketed_returned_items")(spark, dir))
    assert(plan.contains("SortMergeJoin"))
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("SelectedBucketsCount"))
    val exch = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.nonEmpty && exch.forall(_.contains("c_custkey#")),
      s"only the final custkey aggregate may shuffle:\n${exch.mkString("\n")}")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("j9: q21 shape on the mirrors — no fact-side shuffle, single-key probe join") {
    // q21's literal two-key (order, supplier) join-back would demand
    // hashpartitioning(ok, sk) and re-shuffle BOTH fact branches (the
    // first cut of this query did exactly that); the per-order frame
    // keeps the probe join on the bucket key, so the ONLY hash exchange
    // in the whole plan is the final s_name aggregate over the survivors
    val plan = executedPlan(SparkEntry.queries("j9_bucketed_waiting_suppliers")(spark, dir))
    assert(plan.contains("SelectedBucketsCount"))
    val exch = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.nonEmpty && exch.forall(_.contains("s_name#")),
      s"only the final s_name aggregate may shuffle:\n${exch.mkString("\n")}")
    assert(plan.linesIterator.exists(l =>
      l.contains("SortMergeJoin [l_orderkey#") && l.contains("], [ok#")),
      "probe join must stay single-key on the bucket key")
  }

  test("plan ledger: every ExplainAudit.ledger entry has a committed plan file") {
    // the ledger's whole point is that every gated plan shape is diffable
    // in review; round 8 shipped a ledger entry (j7) whose file was never
    // generated — this pins both directions so the drift can't recur
    val files = Option(new java.io.File("docs/plans").listFiles).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".txt")).map(_.stripSuffix(".txt")).toSet
    val missing = ExplainAudit.ledger.filterNot(files.contains)
    assert(missing.isEmpty,
      s"ledger entries without a committed plan file (run scripts/refresh_plans.sh): $missing")
    val extra = files.filterNot(ExplainAudit.ledger.contains)
    assert(extra.isEmpty, s"plan files no longer in the ledger: $extra")
    ExplainAudit.ledger.foreach(q =>
      assert(SparkEntry.queries.contains(q), s"ledger entry $q is not a registered query"))
  }

  test("BucketedMirror.bucketsFor: size-derived, power-of-two, floored") {
    import graft.sink.BucketedMirror.{bucketsFor, defaultBuckets, targetBucketBytes}
    // everything at test SF sits at the floor
    assert(bucketsFor(0L) === defaultBuckets)
    assert(bucketsFor(11L * 1024 * 1024) === defaultBuckets) // sf0.1 lineitem
    assert(bucketsFor(defaultBuckets * targetBucketBytes) === defaultBuckets)
    // growth: rounded UP to powers of two so two mirrors are always at
    // integer-multiple ratios (coalesceBucketsInJoin-compatible)
    assert(bucketsFor(defaultBuckets * targetBucketBytes + 1) === defaultBuckets * 2)
    val tenTb = 10L * 1024 * 1024 * 1024 * 1024
    assert(bucketsFor(tenTb) === 65536) // ~160 MB per bucket
    val sizes = Seq(1L << 30, 1L << 34, 1L << 38, 1L << 42).map(bucketsFor)
    assert(sizes === sizes.sorted, s"bucket count must grow with size: $sizes")
    sizes.foreach(b => assert((b & (b - 1)) === 0, s"$b not a power of two"))
  }

  test("skewed join: AQE splits the hot partition (the §4.2 skew claim, proven)") {
    // one key holds ~97% of the left side; with broadcast off this is the
    // classic straggler join. The repo's scale posture says AQE handles it
    // — this gate makes that claim a test: with the skew thresholds scaled
    // down to fixture size, the executed plan must show a skewed
    // AQEShuffleRead (OptimizeSkewedJoin split the hot partition).
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = ((1 to 200000).map(i => (0L, s"payload-$i-${i * 7}")) ++
        (1 to 4000).map(i => ((i % 50 + 1).toLong, s"p-$i"))).toDF("k", "v")
      val right = (0L to 50L).map(k => (k, s"dim-$k")).toDF("k", "name")
      val joined = left.join(right, "k")
      val plan = executedPlan(joined)
      assert(plan.contains("SortMergeJoin(skew=true)"),
        "AQE did not mark the join as skew-handled")
      assert(plan.contains("AQEShuffleRead") && plan.contains("skewed"),
        "AQE did not split the skewed partition")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("candidate dumps write partitioned — no SinglePartition exchange feeds a dump write") {
    // d13/d14/d15/d16/e2/e3 materialize their candidate-pair sets to a
    // parquet dump the oracle replays. Round 12 wrote those dumps via
    // .repartition(1) — one task serializing the entire pair set, a
    // straight-line bottleneck in the measured path at 100 TB (the pair
    // dump is itself a large table there). The writes are side effects of
    // invoking the query function, so gate them via a QueryExecutionListener
    // capturing every *_candidates write plan.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val dumpQueries = Seq("d13_lsh_verified_pairs", "d14_fuzzy_survivors",
      "d15_incremental_neardups", "d16_incremental_indexed",
      "d19_simhash_verified_pairs",
      "e2_embedding_verified_pairs", "e3_semantic_survivors",
      "s2_ann_topk", "s4_ivf_topk", "s7_ann_int8", "s8_ivf_int8",
      "t7_winnow")
    val captured = new scala.collection.concurrent.TrieMap[String, String]()
    val dumpKey = """([a-z]\d+)_candidates""".r
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        dumpKey.findFirstMatchIn(plan).foreach(m => captured.put(m.group(1), plan))
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // dump writes only happen in verify mode (CandidateDumps) — this
      // gate exercises the dumping variant explicitly
      CandidateDumps.withEnabled {
        dumpQueries.foreach(q => SparkEntry.queries(q)(spark, dir)) // write happens eagerly
      }
      // listener delivery is async on the listener bus — poll to quiescence
      var waited = 0
      while (captured.size < dumpQueries.size && waited < 30000) {
        Thread.sleep(100); waited += 100
      }
      assert(captured.size === dumpQueries.size,
        s"expected ${dumpQueries.size} dump writes, captured: ${captured.keySet.toSeq.sorted}")
      val offenders = captured.filter(_._2.contains("SinglePartition")).keys.toSeq.sorted
      assert(offenders.isEmpty,
        s"single-partition exchange feeding a candidate-dump write: $offenders")
    } finally spark.listenerManager.unregister(listener)
  }

  test("bench mode: no candidate-dump write or read in any measured plan") {
    // The round-13 verdict's top finding: the 11 dump queries paid a
    // parquet write + read-back per bench run — oracle plumbing inside
    // the measured path. With CandidateDumps OFF (the default, i.e. what
    // Bench measures), invoking and executing each query must neither
    // fire a *_candidates write job (listener) nor read a *_candidates
    // dump in the result plan (executedPlan scan check).
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val dumpQueries = Seq("d13_lsh_verified_pairs", "d14_fuzzy_survivors",
      "d15_incremental_neardups", "d16_incremental_indexed",
      "d19_simhash_verified_pairs",
      "e2_embedding_verified_pairs", "e3_semantic_survivors",
      "s2_ann_topk", "s4_ivf_topk", "s7_ann_int8", "s8_ivf_int8",
      "t7_winnow")
    assert(!CandidateDumps.enabled, "specs must run with dumps off by default")
    val offenders = new scala.collection.concurrent.TrieMap[String, Unit]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        """[a-z]\d+_candidates""".r.findFirstIn(plan)
          .foreach(m => offenders.put(s"$m ($funcName)", ()))
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      dumpQueries.foreach { q =>
        val df = SparkEntry.queries(q)(spark, dir)
        assert(!executedPlan(df).contains("_candidates"),
          s"$q: bench-mode result plan reads a candidate dump")
      }
      // listener delivery is async — give the bus a moment to drain
      // before asserting the negative (the plan-string check above is
      // the synchronous primary gate)
      Thread.sleep(1500)
      assert(offenders.isEmpty,
        s"bench-mode execution touched candidate dumps: ${offenders.keySet.toSeq.sorted}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("dump parity: verify-mode (dumped) and bench-mode (pure) results agree") {
    // The two modes must publish identical rows — the read-back dump is
    // plumbing, not semantics. One LSH-verify query and one ANN-rescore
    // query stand in for their families (the other nine share the same
    // dumpedCandidates seam).
    Seq("d13_lsh_verified_pairs", "s2_ann_topk").foreach { q =>
      val pure = SparkEntry.queries(q)(spark, dir).collect().toSet
      val dumped = CandidateDumps.withEnabled {
        SparkEntry.queries(q)(spark, dir).collect().toSet
      }
      assert(pure === dumped, s"$q: bench-mode result differs from verify-mode")
    }
  }

  test("m17: perception-graph search runs over the distinct hash universe with the cap observed") {
    val plan = executedPlan(SparkEntry.queries("m17_perceptual_hash_pairs")(spark, dir))
    // occupancy cap is ON by default (r15 behavior change) and observable
    assert(plan.contains("graft_ahash_bucket_cap"))
    // the chunk self-join's input is the DISTINCT packed-hash frame —
    // occupancy per perception, never per copy
    assert(plan.linesIterator.exists(_.contains("HashAggregate(keys=[__h")))
    // decode happens below (deeper than) every exchange: the shuffle
    // carries (chunk, ckey, hash), never blob bytes
    assert(plan.indexOf("Exchange") < plan.indexOf("MapPartitions"))
  }

  test("m19: perceptual-new is an anti-join probing the capped corpus hash frame") {
    val plan = executedPlan(SparkEntry.queries("m19_incremental_perceptual_new")(spark, dir))
    assert(plan.contains("LeftAnti"))
    assert(plan.contains("graft_ahash_corpus_cap"))
    // batch hashes come from the one localCheckpoint'd decode pass
    assert(plan.contains("ExistingRDD"))
  }

  test("m1: media metadata query never reads the bytes column") {
    val df = SparkEntry.queries("m1_resize_plan")(spark, dir)
    val plan = executedPlan(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("meta"))
    assert(!readSchema.contains("bytes")) // blob column pruned at the scan
  }

  test("s10: PQ candidate scan reads codes only (never embedding bytes); " +
    "queries broadcast; ADC scored by the native kernel into the bounded heap") {
    // The compression claim IS the plan shape: the candidate stage must
    // stream the m-bytes-per-vector code table (the 32×-smaller mirror)
    // with the per-query ADC LUTs broadcast against it — if embedding
    // bytes appear in the candidate scan, PQ degenerated to brute force
    // with extra steps. Gated on the search function directly (the s2
    // gate note): the registered s10 query's returned plan is the
    // rescore of its survivor dump.
    val emb = Tables.embeddings(spark, dir)
    val (codes, cb) = graft.sim.PqIndex.ensure(spark, dir, emb)
    val plan = executedPlan(graft.sim.Similarity.pqCandidatePairsEncoded(
      codes, cb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 8),
      kCand = 64))
    // native kernels in the plan, never HOF fallbacks
    assert(plan.contains("graft_pq_adc"), "ADC must be the native kernel")
    assert(plan.contains("graft_pq_lut"), "LUT must be the native kernel")
    // query side broadcasts (non-equi self-exclusion join → BNLJ is the
    // intended shape: corpus streams, per-query LUTs ride the broadcast)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"))
    // the code-table scan reads (vec_id, __codes) — embedding stays on
    // disk until the exact rerank over the survivor pairs
    val codeScan = plan.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("__codes")).get
    assert(!codeScan.contains("embedding"),
      s"candidate scan must not read embedding bytes:\n$codeScan")
    // top-kCand selection is the bounded heap, not a window sort
    assert(plan.contains("partial_topk_rows"), "map-side partial heap expected")
    assert(!plan.contains("WindowGroupLimit"))
  }

  test("s11: IVF-PQ scan DPP-prunes to probed cells and reads codes only") {
    // pruning × compression in one plan: the cell-partitioned code
    // table must carry the dynamic-pruning filter from the broadcast
    // probe generator (the s8 scan shape) AND read only (vec_id,
    // __codes) — never embedding bytes (the s10 scan shape).
    val emb = Tables.embeddings(spark, dir)
    val (codesByCell, cents, cb) = graft.sim.IvfPqIndex.ensure(spark, dir, emb)
    val plan = executedPlan(graft.sim.Similarity.ivfPqCandidatePairs(
      codesByCell, cents, cb,
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 8), kCand = 64))
    assert(plan.linesIterator.exists(_.contains("dynamicpruningexpression(__cell")),
      s"probe-cell DPP filter expected on the code scan:\n$plan")
    assert(plan.contains("Generate graft_nearest_cells_gen"),
      "probe selection must be the custom generator")
    assert(plan.contains("graft_pq_adc"), "ADC must be the native kernel")
    val codeScan = plan.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("__codes")).get
    assert(!codeScan.contains("embedding"),
      s"candidate scan must not read embedding bytes:\n$codeScan")
    assert(plan.contains("partial_topk_rows"), "map-side partial heap expected")
  }

  test("s16: the appended IVF-PQ layout keeps cell DPP and codes-only " +
       "reads on BOTH roots (base and generation scan alike)") {
    // the append rung's 100 TB claim: a generation is not a second-class
    // path — the probe's dynamic partition pruning and the m-bytes-per-
    // vector scan economics must hold on every root the union reads
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val emb = Tables.embeddings(spark, dir)
    val (_, cents, cb) = graft.sim.IvfPqIndex.ensure(spark, dir,
      emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), subset = "inc")
    val (codesByCell, _, _) = graft.sim.IvfPqIndex.append(spark, dir, "b0",
      emb.filter(pmod(col("vec_id"), lit(10)) === 0), subset = "inc")
    // the default 100-char metadata truncation cuts the Location paths
    // this test keys on (the z1 lesson)
    val prevLen = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val plan =
      try executedPlan(graft.sim.Similarity.ivfPqCandidatePairs(
        codesByCell, cents, cb, emb.filter(col("vec_id") < 8), kCand = 64))
      finally spark.conf.set("spark.sql.maxMetadataStringLength", prevLen)
    val scans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("ivfpq_index")).toSeq
    val baseLeaf = committedLeaf(graft.sim.IvfPqIndex.root(dir,
      spark.sessionState.newHadoopConf(), "inc"), "codes_by_cell").getName
    assert(scans.exists(_.contains(s"/$baseLeaf]")) &&
           scans.exists(_.contains("append_b0")),
      s"both the base and the generation root must be scanned:\n$plan")
    scans.foreach { s =>
      assert(s.contains("dynamicpruning"),
        s"every ivfpq root must carry the probe-cell DPP filter:\n$s")
      assert(!s.contains("embedding"),
        s"no ivfpq root may read embedding bytes:\n$s")
    }
  }

  test("z1: BOTH range predicates reach the z-mirror's parquet scan as " +
       "PushedFilters, read schema pruned to the three touched columns") {
    // the layout exists so file/row-group min-max stats answer these
    // predicates — a lost pushdown silently guts the operator even
    // though every value gate still passes. sf0.01: at sf0.001 the
    // custkey range is empty and AQE collapses the whole plan to
    // EmptyRelation before any scan exists to inspect. The metadata
    // string length is raised so the 4-filter PushedFilters list is not
    // truncated at the default 100 chars
    val prevLen = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val plan =
      try executedPlan(SparkEntry.queries("z1_zorder_prune")(spark, "/root/testdata/sf0.01"))
      finally spark.conf.set("spark.sql.maxMetadataStringLength", prevLen)
    assert(plan.contains("GreaterThanOrEqual(o_totalprice,50000.0)") &&
           plan.contains("LessThanOrEqual(o_totalprice,150000.0)"),
      "price range must be pushed")
    assert(plan.contains("GreaterThanOrEqual(o_custkey,200)") &&
           plan.contains("LessThanOrEqual(o_custkey,1000)"),
      "custkey range must be pushed")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("o_orderdate") && !readSchema.contains("o_orderkey"),
      s"untouched columns must not be read:\n$readSchema")
  }

  test("er1: verification is the codegen levenshtein inside the candidate join, " +
       "and the occupancy cap is a window on the token shuffle") {
    val plan = executedPlan(SparkEntry.queries("er1_name_matches")(spark, dir))
    assert(plan.contains("levenshtein"), "verify must be the codegen expression")
    assert(plan.contains("Window"), "occupancy cap must be the window form")
    // at this size AQE broadcasts the distinct-name side; at 100 TB the
    // same plan degrades to SMJ on the token shuffle — either way the
    // join must not be a cartesian
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      "token blocking must be an equi-join, never all-pairs")
  }
}
