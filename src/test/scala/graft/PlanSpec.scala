package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.PropertyGraph
import graft.store.GraphPackage

/** Physical-plan assertions — the scale story must be visible in
  * `explain`: filters reach the parquet scan, spatial queries prune
  * partitions, small dimensions broadcast, hot paths stay in
  * whole-stage codegen.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val pkgDir: String = {
    val dir = Files.createTempDirectory("graft-plan").resolve("g.graft").toString
    val g = PropertyGraph.fromGeoJson(spark, Seq(Fixture.path))
    GraphPackage.save(g, dir)
    dir
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("point lookup pushes key predicates into the parquet scan") {
    val g = GraphPackage.load(spark, pkgDir)
    val p = plan(g.getEdge(Fixture.TestNode1, Fixture.TestNode2))
    assert(p.contains("PushedFilters:") && p.contains("IsNotNull(_u)"),
      s"no pushed filters in:\n$p")
    assert(p.contains("EqualTo(_u,") && p.contains("EqualTo(_v,"))
  }

  test("bbox query prunes grid-cell partitions, not just rows") {
    val g = GraphPackage.load(spark, pkgDir)
    val df = g.intersects(-122.315, 47.659, -122.313, 47.660)
    val p = plan(df)
    assert(p.contains("PartitionFilters:") && p.contains("_cell"),
      s"no partition filters in:\n$p")
    // and still returns the right rows after pruning
    assert(df.count() == 8)
  }

  test("dwithin off the stored layout matches the reference result post-pruning") {
    val g = GraphPackage.load(spark, pkgDir)
    assert(g.dwithin(-122.3132940, 47.6598762, 0.1).count() == 2)
  }

  test("reads of a loaded package plan no shuffle: lookups, count, spatial queries") {
    val g = GraphPackage.load(spark, pkgDir)
    val reads = Seq(
      "getEdge" -> g.getEdge(Fixture.TestNode1, Fixture.TestNode2),
      "successors" -> g.successors(Fixture.TestNode1),
      "predecessors" -> g.predecessors(Fixture.TestNode1),
      "intersects" -> g.intersects(-122.315, 47.659, -122.313, 47.660),
      "dwithin" -> g.dwithin(-122.3132940, 47.6598762, 0.1),
      "nearestK" -> g.nearestK(-122.3132940, 47.6598762, 3))
    for ((name, df) <- reads) {
      val p = plan(df)
      assert(!p.contains("Exchange"), s"$name shuffles:\n$p")
    }
    // a global count gathers its partial counts into one partition
    // (Exchange SinglePartition); what must be gone is a key shuffle
    val c = plan(g.edges.groupBy().count())
    assert(!c.contains("hashpartitioning"), s"size() shuffles on a key:\n$c")
  }

  test("fk join broadcasts the small dimension") {
    val q = SparkEntry.queries("j1_join_fk")(spark, "/root/testdata/sf0.001")
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("q1 aggregation runs inside whole-stage codegen with pruned scan schema") {
    val q = SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001")
    // only the 5 needed columns are read (schema pruning)
    val p0 = plan(q)
    assert(p0.contains("l_returnflag") && !p0.contains("l_shipdate"),
      s"scan schema not pruned:\n$p0")
    // AQE finalizes codegen stages only at execution time (collect on the
    // same Dataset so this queryExecution is the one that runs)
    q.collect()
    val p1 = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // formatted mode marks codegen'd operators with "[codegen id : N]"
    assert(p1.contains("codegen id"), s"no codegen stage in:\n$p1")
  }

  test("embedding dot product is a native codegen expression, not a UDF") {
    val e = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val q = graft.llm.Similarity.topSimilarPairs(e, "vec_id", "embedding", 5)
    val p = plan(q)
    assert(p.contains("dot_product"), s"dot_product expression missing:\n$p")
    assert(!p.contains("UDF"), s"unexpected UDF in similarity plan:\n$p")
  }

  test("minhash signature is a native codegen expression, not a UDF") {
    val d = Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val q = graft.llm.Dedup.lshBuckets(d, "doc_id", "text")
    val p = plan(q)
    assert(p.contains("minhash_signature"), s"minhash_signature expression missing:\n$p")
    assert(p.contains("poly_hash"), s"poly_hash expression missing:\n$p")
    assert(!p.contains("UDF("), s"unexpected ScalaUDF in the LSH plan:\n$p")
  }

  test("lang id and rolling fingerprint are native codegen expressions, not UDFs") {
    val d = Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val q = d.select(org.apache.spark.sql.functions.col("doc_id"),
      graft.llm.Text.langId(org.apache.spark.sql.functions.col("text")).as("lang"),
      graft.llm.Text.rollingFingerprint(
        org.apache.spark.sql.functions.col("text"), 3).as("rfp"))
    val p = plan(q)
    assert(p.contains("lang_id"), s"lang_id expression missing:\n$p")
    assert(p.contains("rolling_fingerprint"), s"rolling_fingerprint expression missing:\n$p")
    assert(!p.contains("UDF("), s"unexpected ScalaUDF in the text plan:\n$p")
  }

  test("bucketed join reads bucket-to-bucket with no shuffle exchange") {
    val s = TestSpark.spark
    import org.apache.spark.sql.functions._
    for (tbl <- Seq("bkt_customer_plan", "bkt_orders_plan")) {
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val p = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"), tbl)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    Tables.t(s, "/root/testdata/sf0.001", "customer").write.mode("overwrite")
      .format("parquet").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("bkt_customer_plan")
    Tables.t(s, "/root/testdata/sf0.001", "orders").write.mode("overwrite")
      .format("parquet").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("bkt_orders_plan")
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = s.table("bkt_customer_plan")
        .join(s.table("bkt_orders_plan"), col("c_custkey") === col("o_custkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join should not shuffle:\n$p")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("IVF assignment and PQ encode/ADC are native codegen expressions, not UDFs") {
    val e = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val qv = e.orderBy("vec_id").limit(1)
      .select(org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .head.getSeq[Double](0)
    val ivf = plan(graft.llm.Similarity.ivfTopK(e, "vec_id", "embedding", qv, 5))
    assert(ivf.contains("nearest_centroid"), s"nearest_centroid missing:\n$ivf")
    assert(!ivf.contains("UDF"), s"unexpected UDF in IVF plan:\n$ivf")
    val pq = plan(graft.llm.Similarity.pqTopK(e, "vec_id", "embedding", qv, 5))
    assert(pq.contains("pq_encode"), s"pq_encode missing:\n$pq")
    assert(pq.contains("pq_adist"), s"pq_adist missing:\n$pq")
    assert(!pq.contains("UDF"), s"unexpected UDF in PQ plan:\n$pq")
  }

  // ---- round-6 batch plan shapes ----
  private val sf = "/root/testdata/sf0.001"

  test("e18 attribution: one as-of window, no cartesian/range-join explosion") {
    val p = plan(graft.queries.Extended21.queries("e18_attribution")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"as-of must stay a merge window, not a pair join:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected the as-of window in:\n$p")
  }

  test("e20 sliding distinct: band join is an equi-join on buckets") {
    val p = plan(graft.queries.Extended25.queries("e20_sliding_distinct")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"band join must bucket, not pair:\n$p")
  }

  test("tp7 decontamination broadcasts the eval shingle side") {
    val p = plan(graft.queries.Extended24.queries("tp7_decontaminated_split")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"eval side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no pair explosion:\n$p")
  }

  test("j14 salted join broadcasts the replicated dimension") {
    val p = plan(graft.queries.Extended25.queries("j14_skew_salted")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"salted dim should broadcast:\n$p")
  }

  test("e19 ordered funnel plans as joins + partial aggs, never a window") {
    val p = plan(graft.queries.Extended24.queries("e19_funnel3")(spark, sf))
    assert(!p.contains("RunningWindowFunction"),
      s"funnel must not window-sort per user:\n$p")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"expected aggregate phases in:\n$p")
  }

  // ---- batch 26/27 plan shapes ----

  test("tp8 semdedup: cid-bucketed pair join, codegen kernels, no UDF") {
    val p = plan(graft.queries.Extended26.queries("tp8_semdedup")(spark, sf))
    assert(p.contains("nearest_centroid"), s"assignment kernel missing:\n$p")
    assert(!p.contains("UDF"), s"unexpected UDF:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pair prune must equi-join on cid, never all-pairs:\n$p")
  }

  test("q11 bi-nation volume broadcasts dims and never pair-joins") {
    val p = plan(graft.queries.Extended26.queries("q11_nation_volume")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"dims should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no pair explosion:\n$p")
  }

  test("u5 merge-into is a single join pass, no window, no cartesian") {
    val p = plan(graft.queries.Extended27.queries("u5_merge_into")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"MERGE must stay an equi-join:\n$p")
    assert(!p.contains("RunningWindowFunction"),
      s"MERGE needs no window:\n$p")
  }

  test("tp9 weighted sample is a map pass + TakeOrdered, no global sort") {
    val p = plan(graft.queries.Extended27.queries("tp9_weighted_sample")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered for the k-sample:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global range sort of the corpus:\n$p")
  }

  test("q15 top supplier is partial aggs + broadcast max, no window") {
    val p = plan(graft.queries.Extended28.queries("q15_top_supplier")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the 1-row max and the supplier dim should broadcast:\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
      s"argmax-by-join must not global-sort the partials:\n$p")
  }

  test("q18 large-volume HAVING filters partials before the dimension joins") {
    val df = graft.queries.Extended29.queries("q18_large_volume")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"customer dim broadcasts:\n$p")
    // the qty HAVING must sit under the join: the orderkey aggregate is
    // filtered on total_qty before any join operator consumes it
    val aggIdx = p.indexOf("total_qty")
    assert(aggIdx >= 0 && p.substring(aggIdx).contains("(total_qty"),
      s"partial-agg filter on total_qty expected:\n$p")
  }

  test("q2b best-supplier is a max(struct) partial agg, no per-part window") {
    val p = plan(graft.queries.Extended31.queries("q2b_best_supplier")(spark, sf))
    assert(!p.contains("RunningWindowFunction"),
      s"argmax must be an aggregation, not row_number:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"part/supplier dims should broadcast:\n$p")
  }

  test("q21 sole-late is two aggregation levels, no correlated re-probe") {
    val p = plan(graft.queries.Extended31.queries("q21_sole_late")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no pair explosion:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered, not global sort:\n$p")
  }

  test("tp11 token-budget mix windows per source, never partitionless") {
    val df = graft.queries.Extended32.queries("tp11_token_budget_mix")(spark, sf)
    val p = plan(df)
    // the running sum must be keyed by source: a partitionless window
    // would serialize the whole corpus through one task
    assert(p.contains("partitionBy") || p.contains("PartitionBy") ||
      !p.contains("SinglePartition"),
      s"running sum must partition by source:\n$p")
  }

  test("tp13 dup spans: gram-keyed aggs, no pair join, no window") {
    val p = plan(graft.queries.Extended40.queries("tp13_dup_ngram_spans")(spark, sf))
    // the dup-gram relation must come from aggregation on the gram key —
    // an all-pairs doc join would be the O(n²) anti-pattern
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"dup spans must never pair-join documents:\n$p")
    assert(!p.contains("RunningWindowFunction"),
      s"per-doc rollup is an aggregation, not a window:\n$p")
  }

  test("tp14 classifier inference is one scan + partial agg, no UDF") {
    val p = plan(graft.queries.Extended40.queries("tp14_classifier_inference")(spark, sf))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"hashing and weights are built-ins, no UDF:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"the score sum must map-side combine:\n$p")
  }

  test("ann_sq8 is a codegen scan + TakeOrdered candidates, no UDF") {
    val p = plan(graft.queries.Extended40.queries("ann_sq8_topk")(spark, sf))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"quantize + distance are expressions, no UDF:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate refine must be TakeOrdered, not a global sort:\n$p")
  }

  test("stored IVF probe is parquet PARTITION pruning, no assignment pass") {
    val p = plan(graft.queries.Extended57.queries("ann_ivf_stored_topk")(spark, sf))
    // the probe filter must hit the stored _cid partition column — the
    // scan opens only the probed buckets' files
    assert(p.contains("PartitionFilters") && p.contains("_cid"),
      s"probe must prune _cid partitions:\n$p")
    assert(!p.contains("nearest_centroid"),
      s"no per-row assignment at query time — _cid is stored:\n$p")
  }

  test("stored PQ candidate scan reads codes, not embeddings") {
    val p = plan(graft.queries.Extended57.queries("ann_pq_stored_topk")(spark, sf))
    val codesScan = p.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("_codes") && !l.contains("embedding"))
    assert(codesScan,
      s"candidate stage must scan (id, _codes) only — m bytes per vector:\n$p")
    assert(!p.contains("pq_encode"),
      s"no per-row encode at query time — codes are stored:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"refine must be TakeOrdered, not a global sort:\n$p")
  }

  test("a20 weighted median finishes as a bounded local relation, no window, no percentile") {
    // round 7: the selection runs as two bounded passes over the (flag,
    // price, Σqty) histogram (operators/Selection) — the heavy partial
    // aggregation happens in those jobs (SelectionSpec pins semantics);
    // the RETURNED plan is the driver-finished bounded artifact. The
    // scale claims visible here: no cumulative Window over the value
    // domain, no buffering percentile, result is group-sized.
    val p = plan(graft.queries.Extended41.queries("a20_weighted_median")(spark, sf))
    assert(p.contains("LocalTableScan"), s"bounded-selection result expected:\n$p")
    assert(!p.contains("Window"), s"no cumulative window allowed:\n$p")
    assert(!p.contains("percentile"), s"must not use buffering percentile:\n$p")
  }

  test("q23 product profit broadcasts part/supplier dims, no window") {
    val p = plan(graft.queries.Extended43.queries("q23_product_profit")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"part and supplier⋈nation must broadcast into the lineitem scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no pair joins:\n$p")
    assert(!p.contains("RunningWindowFunction"),
      s"profit rollup is an aggregation, not a window:\n$p")
  }

  test("q24 market share is ONE aggregation pass, dims broadcast") {
    val p = plan(graft.queries.Extended43.queries("q24_market_share")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"region/nation/part dims must broadcast:\n$p")
    // numerator and denominator come from the same partial agg — the plan
    // must contain exactly one aggregate pair over the fact join
    assert(!p.contains("Union"), s"share must not be two unioned queries:\n$p")
  }

  test("a21 mode pre-reduces to (group, value) counts, no value buffering") {
    val p = plan(graft.queries.Extended43.queries("a21_mode")(spark, sf))
    assert(p.contains("partial"), s"(flag, q) pre-count expected:\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("percentile"),
      s"argmax is a struct max agg, not a window:\n$p")
  }

  test("tp16 importance score: count-table joins + TakeOrdered, no UDF") {
    val p = plan(graft.queries.Extended44.queries("tp16_importance_score")(spark, sf))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"tokenize and mass sums are built-ins:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("RunningWindowFunction"),
      s"per-doc masses are aggregations, not windows:\n$p")
  }

  test("tp17 hard negatives: broadcast probes + GroupTopK, no window sort") {
    val p = plan(graft.queries.Extended45.queries("tp17_hard_negatives")(spark, sf))
    assert(p.contains("GroupTopK"),
      s"per-probe top-5 must use the bounded-heap operator:\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("row_number"),
      s"no window sort for top-k:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"cosine kernel is the native expression:\n$p")
  }

  test("a22 MAD finishes as bounded local relations, no window, no percentile") {
    // round 7: both median selections run as bounded two-level passes
    // over the checkpointed histogram (operators/Selection); the returned
    // plan joins two group-sized local relations. See the a20 note.
    val p = plan(graft.queries.Extended45.queries("a22_mad")(spark, sf))
    assert(p.contains("LocalTableScan"), s"bounded-selection results expected:\n$p")
    assert(!p.contains("Window"), s"no cumulative window allowed:\n$p")
    assert(!p.contains("percentile"), s"must not use buffering percentile:\n$p")
  }

  test("e24 RFM buckets by literal boundaries, no global ntile, no window") {
    // round 7: the 12 boundary values come from the bounded two-level
    // selection and land in the plan as LITERAL arrays inside the
    // bucketing projection — one codegen pass over the customers, no
    // broadcast join and no cumulative window at all
    val p = plan(graft.queries.Extended46.queries("e24_rfm_segments")(spark, sf))
    assert(!p.contains("ntile"), s"no partitionless ntile over customers:\n$p")
    assert(!p.contains("Window"), s"no cumulative boundary window:\n$p")
    assert(p.contains("size(filter("),
      s"boundary comparison must be the literal-array bucketing projection:\n$p")
  }

  test("tp18 upsample is a generator + partial aggs, no shuffle-side blowup") {
    val p = plan(graft.queries.Extended46.queries("tp18_domain_upsample")(spark, sf))
    assert(p.contains("Generate"), s"the epoch replication must be explode:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"epoch arithmetic is built-in integer math:\n$p")
  }

  test("a23 Gini folds rank sums from the histogram, no global row sort") {
    val p = plan(graft.queries.Extended47.queries("a23_gini")(spark, sf))
    assert(p.contains("partial"), s"(nk, mc) histogram pre-agg expected:\n$p")
    assert(!p.contains("SinglePartition"),
      s"the cumulative pass must partition by nation:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"rank-sum series is built-in integer math:\n$p")
  }

  test("v7 label agreement: GroupTopK per point, codegen kernel, no window") {
    val p = plan(graft.queries.Extended48.queries("v7_knn_label_agreement")(spark, sf))
    assert(p.contains("GroupTopK"),
      s"per-point top-10 must use the bounded-heap operator:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"cosine is the native expression:\n$p")
  }

  test("j24 skyline: per-day best + broadcast, never a dominance pair join") {
    val p = plan(graft.queries.Extended50.queries("j24_skyline")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no quadratic dominance join:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the (day, bestAfter) relation must broadcast:\n$p")
  }

  test("u7 snapshot diff is one full-outer join, no window, no re-probe") {
    val p = plan(graft.queries.Extended50.queries("u7_snapshot_diff")(spark, sf))
    assert(p.contains("FullOuter"), s"delta must be one full outer join:\n$p")
    assert(!p.contains("RunningWindowFunction"),
      s"per-op rollup is an aggregation:\n$p")
  }

  test("e22 sweep-line is net-delta aggs + per-type window, no self-join") {
    val p = plan(graft.queries.Extended41.queries("e25_max_concurrency")(spark, sf))
    // interval overlap via sweep — an interval self-join would be O(n²)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"no pair join over events:\n$p")
    assert(!p.contains("SinglePartition"),
      s"the cumulative sweep must partition by event_type:\n$p")
  }

  test("tp21 decontamination pre-filters the corpus grams with an in-scan bloom probe") {
    val p = plan(graft.queries.Extended60.queries("tp21_bloom_decontaminate")(spark, sf))
    // the codegen'd BloomFilterMightContain must sit on the corpus gram
    // stream (a Filter BEFORE the exact semi join), so ~all clean grams
    // die inside the scan stage instead of shuffling to the join
    assert(p.contains("might_contain"), s"no bloom pre-filter in:\n$p")
    assert(p.contains("LeftSemi"), s"exact verify join missing:\n$p")
    assert(p.indexOf("might_contain") > p.indexOf("LeftSemi"),
      s"bloom filter must be below (upstream of) the semi join:\n$p")
  }

  test("tp22 global exact-N sample is TakeOrdered, never a global sort") {
    val p = plan(graft.queries.Extended61.queries("tp22_uniform_sample_n")(spark, sf))
    // map-side bounded N-heaps; only partitions*N rows travel. A Sort +
    // GlobalLimit here would be the 100 TB full-sort anti-pattern.
    assert(p.contains("TakeOrderedAndProject"), s"sample must be TakeOrdered:\n$p")
  }

  test("tp23 per-group sample runs on GroupTopK, not a row_number window") {
    val p = plan(graft.queries.Extended61.queries("tp23_per_domain_sample")(spark, sf))
    assert(p.contains("GroupTopK"), s"per-group sample must use GroupTopK:\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"),
      s"no window in the sampling path:\n$p")
  }

  test("a27 AUC rank-below table runs two-level: in-bucket windows keyed by bucket") {
    val p = plan(graft.queries.Extended62.queries("a27_auc")(spark, sf))
    // PrefixSum's in-bucket cumulative pass must be partitioned BY the
    // bucket column (parallel across buckets); the only unpartitioned
    // window allowed is the bucket-summary prefix (rows ∝ domain/width)
    assert(p.contains("hashpartitioning(_b"),
      s"in-bucket window must partition by bucket:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"AUC arithmetic is built-in integer math:\n$p")
  }

  test("a28 KS ECDFs come from one PrefixSum pass; totals broadcast") {
    val p = plan(graft.queries.Extended62.queries("a28_ks_drift")(spark, sf))
    assert(p.contains("hashpartitioning(_b"),
      s"in-bucket window must partition by bucket:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row totals must broadcast onto the histogram:\n$p")
  }

  test("r12 HITS rounds are keyed join+sum aggregates off a materialized edge list") {
    val p = plan(graft.queries.Extended63.queries("r12_hits")(spark, sf))
    assert(p.contains("Scan ExistingRDD"),
      s"edge relation must be the localCheckpoint, not a re-run distinct:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"HITS is joins + hash aggregates only:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered, not a global sort:\n$p")
  }

  test("v8 MaxSim broadcasts the 8-row probe side, kernel stays native") {
    val p = plan(graft.queries.Extended64.queries("v8_maxsim")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"probe sub-vectors must broadcast:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"dot kernel is the native expression:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrdered:\n$p")
  }

  test("tp24 curriculum ranks come from stage-keyed windows, not one global sort") {
    val p = plan(graft.queries.Extended64.queries("tp24_curriculum_order")(spark, sf))
    // the row_number pass must partition by stage (parallel across
    // stages); stage offsets ride a broadcast join
    assert(p.contains("hashpartitioning(stage"),
      s"rank window must be keyed by stage:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"stage offsets must broadcast:\n$p")
  }

  test("v9 binary codes pack and rank inside codegen, top-10 is TakeOrdered") {
    val p = plan(graft.queries.Extended73.queries("v9_binary_hamming_topk")(spark, sf))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"sign packing and bit_count are built-in/codegen:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrdered, not a global sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row probe code must broadcast:\n$p")
  }

  test("tp28 span masking is one map-side stage: no shuffle before the doc rows") {
    val p = plan(graft.queries.Extended74.queries("tp28_span_corruption")(spark, sf))
    assert(p.contains("splitmix64"),
      s"the native SplitMix64 expression must appear in the plan:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"mask arithmetic stays native:\n$p")
    // the only exchange allowed is the final presentation sort
    assert(p.split("Exchange").length - 1 <= 1,
      s"masking must not shuffle (one presentation sort max):\n$p")
  }

  test("a26 count-min build is a partial-aggregated group-by, counters broadcast to probes") {
    val p = plan(graft.queries.Extended60.queries("a26_cms_freq")(spark, sf))
    // the sketch merge is a hash aggregate (map-side combine bounds the
    // shuffle at d·w cells per partition); the 1024-cell counter table
    // must broadcast onto the probes, never shuffle them
    assert(p.contains("BroadcastHashJoin"), s"counters must broadcast:\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("CartesianProduct"),
      s"no window / pair join in the sketch path:\n$p")
  }

  test("g11 candidates come from a broadcast cell-ring equi-join into GroupTopK") {
    val p = plan(graft.queries.Extended83.queries("g11_grid_knn")(spark, sf))
    // the 45-row (qid, cell) ring must broadcast onto the event scan;
    // selection is the bounded-heap operator, not a row_number window
    assert(p.contains("BroadcastHashJoin"), s"ring must broadcast:\n$p")
    assert(p.contains("GroupTopK"), s"top-5 must use GroupTopK:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("RunningWindowFunction"),
      s"no pair scan / window in the kNN path:\n$p")
  }

  test("j9 triangle pass is broadcast probes over one edge scan, no wedge shuffle") {
    val p = plan(graft.queries.Extended2.queries("j9_triangles")(spark, sf))
    // degree keys and out-adjacency arrays broadcast (node-catalog-
    // bounded); the arboricity-bound intersection happens inside codegen
    // via array_intersect — the 10M-row wedge relation must never exist
    assert(p.contains("BroadcastHashJoin"), s"adjacency must broadcast:\n$p")
    assert(p.contains("array_intersect"), s"closing is an array intersect:\n$p")
  }

  test("a35 Theil-Sen selection has no per-group single-partition window") {
    val p = plan(graft.queries.Extended77.queries("a35_theil_sen")(spark, sf))
    // the two-level Selection: the in-bucket cumulative window partitions
    // by (group, bucket) — never by the group alone over the full domain
    assert(p.contains("hashpartitioning(event_type"),
      s"selection windows must stay bucket-keyed:\n$p")
    assert(!p.contains("SinglePartition") || !p.contains("RunningWindowFunction"),
      s"no single-partition cumulative window:\n$p")
  }

  test("e29 CUSUM global median is a bounded local relation, no global window") {
    // round 8: the global-median selection moved off the un-partitioned
    // sum-over-Window.orderBy cumulative onto the driver-assisted bounded
    // selection (operators/Selection.lowerMedianBounded) — the median
    // arrives as a 1-row LocalTableScan; the only windows left are the
    // per-event-type CUSUM walks, keyed by event_type
    val p = plan(graft.queries.Extended55.queries("e29_cusum_excursion")(spark, sf))
    assert(p.contains("LocalTableScan"), s"bounded median expected:\n$p")
    assert(p.contains("hashpartitioning(event_type"),
      s"CUSUM windows must stay keyed by event_type:\n$p")
    assert(!p.contains("SinglePartition") || !p.contains("RunningWindowFunction"),
      s"no single-partition cumulative window:\n$p")
  }

  test("q26 decile boundaries are a bounded local relation, no sort, no window") {
    // multi-rank bounded selection: both distributed passes are plain
    // aggregates; the result materializes as a LocalTableScan — a global
    // sort or cumulative window anywhere would mark a scale regression
    val p = plan(graft.queries.Extended95.queries("q26_ltv_deciles")(spark, sf))
    assert(p.contains("LocalTableScan"), s"bounded-selection result expected:\n$p")
    assert(!p.contains("Window"), s"no cumulative window allowed:\n$p")
  }

  test("a45 change point: broadcast day-pair join, struct-min argmin, no window") {
    val p = plan(graft.queries.Extended94.queries("a45_changepoint")(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the day-bounded pair join must broadcast:\n$p")
    assert(!p.contains("Window"), s"argmin is a struct-min aggregate, not a window:\n$p")
  }

  test("j28 rectangles: wedge join is a keyed hash join, never a cartesian") {
    val p = plan(graft.queries.Extended101.queries("j28_rectangles")(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"the wedge self-join must stay keyed on the center vertex:\n$p")
    assert(!p.contains("Window"), s"motif counting needs no window:\n$p")
  }

  test("tp38 coverage: count-of-counts selection, no global vocabulary sort") {
    val p = plan(graft.queries.Extended106.queries("tp38_coverage_curve")(spark, sf))
    // the k-th-largest-count boundary resolves against the tiny
    // count-of-counts relation via a broadcast inequality join — the
    // vocabulary itself is only ever hash-aggregated, never sorted
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"boundary join must broadcast the histogram:\n$p")
    assert(!p.contains("TakeOrderedAndProject") || !p.contains("rank("),
      s"no rank window over the vocabulary:\n$p")
  }

  test("v14 JL projection: one scan, codegen kernel, no join and no window") {
    val p = plan(graft.queries.Extended103.queries("v14_jl_distortion")(spark, sf))
    assert(!p.contains("Join"), s"the projection is per-row, no join:\n$p")
    assert(!p.contains("Window"), s"no window in the kernel:\n$p")
    // one scan feeding a partial-aggregated reduction — the whole kernel
    // lives in the scan stage's project (AQE prints codegen spans only
    // after execution, so assert the stage shape instead)
    assert(p.contains("HashAggregate") && p.contains("FileScan parquet"),
      s"kernel must reduce inside the scan stage:\n$p")
  }

  test("g12 geohash: cell aggregate is partial-aggregated, terminal TakeOrdered") {
    val p = plan(graft.queries.Extended105.queries("g12_geohash_cells")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("Window"), s"no window in the encode path:\n$p")
  }

  test("e38 Hurst: every window stays (type, m, block)-keyed") {
    val p = plan(graft.queries.Extended100.queries("e38_hurst")(spark, sf))
    assert(p.contains("hashpartitioning(event_type"),
      s"block windows must be keyed:\n$p")
    assert(!p.contains("SinglePartition") || !p.contains("RunningWindowFunction"),
      s"no single-partition cumulative window:\n$p")
  }

  test("t34 surprisal: train aggregates meet the probe through semi-joins") {
    val p = plan(graft.queries.Extended112
      .queries("t34_bigram_surprisal")(spark, sf))
    // the ≤20-row probe set broadcasts into left_semi prefilters — the
    // train relation is never shuffled toward a 20-row side
    assert(p.contains("LeftSemi"), s"probe must prefilter via semi-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the probe side must broadcast:\n$p")
  }

  test("g13 DBSCAN: neighbor pairs come from a keyed ring join, no cartesian") {
    val p = plan(graft.queries.Extended115
      .queries("g13_dbscan_core")(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"eps-ball candidates must ride the cell-ring equi-join:\n$p")
    assert(!p.contains("Window"), s"the census needs no window:\n$p")
  }

  test("v17 LSH curve: one signature scan, broadcast truth set, no window") {
    val p = plan(graft.queries.Extended115
      .queries("v17_lsh_recall_curve")(spark, sf))
    assert(!p.contains("SortMergeJoin"),
      s"the 10-row truth set must broadcast:\n$p")
    assert(!p.contains("Window"), s"membership arithmetic needs no window:\n$p")
  }

  test("sparse-fid ingest: no global window in the build plan, fids stay unique") {
    import graft.ingest.GeoJsonIngest
    val dir = Files.createTempDirectory("graft-fidmode")
    def feature(i: Int) =
      s"""{"type":"Feature","properties":{"n":$i},"geometry":{"type":"LineString","coordinates":[[0.00$i,0.0],[0.00$i,0.001]]}}"""
    val nd = dir.resolve("w.geojsonl")
    Files.writeString(nd, (1 to 6).map(feature).mkString("\n"))
    val fc1 = dir.resolve("a.geojson")
    val fc2 = dir.resolve("b.geojson")
    Files.writeString(fc1,
      s"""{"type":"FeatureCollection","features":[${feature(1)},${feature(2)}]}""")
    Files.writeString(fc2,
      s"""{"type":"FeatureCollection","features":[${feature(3)},${feature(4)}]}""")

    // ndjson default: sparse — no window operator anywhere in the plan
    val seqEdges = GeoJsonIngest.readEdgesSeq(spark, Seq(nd.toString))
    val pSeq = plan(seqEdges)
    assert(!pSeq.contains("Window"), s"ndjson build must not window:\n$pSeq")
    assert(seqEdges.select("fid").distinct().count() == seqEdges.count())

    // forced-sparse FC reader: no window, fids unique across FILES (the
    // per-file posexplode index would collide here without mono-id fids)
    val sparseFc = GeoJsonIngest.readEdges(spark, Seq(fc1.toString, fc2.toString),
      GeoJsonIngest.Options(denseFids = Some(false)))
    val pFc = plan(sparseFc)
    assert(!pFc.contains("Window"), s"sparse FC build must not window:\n$pFc")
    assert(sparseFc.select("fid").distinct().count() == sparseFc.count())

    // auto gate: build-sized input resolves dense (reference fid parity —
    // PropertyGraphSpec's fid==2 contract rides this), and the explicit
    // dense mode is the insertion-order window
    assert(GeoJsonIngest.denseByGate(spark, Seq(fc1.toString), GeoJsonIngest.Options()))
    assert(GeoJsonIngest.inputBytes(spark, Seq(fc1.toString, fc2.toString)) > 0)
    val dense = GeoJsonIngest.readEdges(spark, Seq(fc1.toString, fc2.toString),
      GeoJsonIngest.Options(denseFids = Some(true)))
    assert(dense.select("fid").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.toSeq == (1L to 8L))
  }
}
