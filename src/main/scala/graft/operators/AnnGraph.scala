package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableRound.round
import graft.functions.VectorFunctions.cosine

/** q263: graph-index ANN — a distributed k-NN GRAPH built by NN-descent
  * (Dong, Moses & Li, WWW 2011), the batch-construction member of the
  * graph-ANN family (HNSW/NSG are its sequential-insertion cousins and
  * resist data-parallel expression; NN-descent is the standard
  * cluster-scale way to get the same neighborhood graph).
  *
  * The algorithm rides the observation "a neighbor of a neighbor is
  * likely a neighbor": start from a pseudo-random k-neighborhood, then
  * repeatedly score neighbors-of-neighbors (forward AND reverse — the
  * reverse edges are what make convergence fast) and keep the best k.
  * Every stage is Spark-native relational:
  *
  *   - init: hash-bucket the ids, take the next `k` ids inside the
  *     bucket by `lead()` — a deterministic stand-in for random init
  *     with NO global index, no collect, one bucket-partitioned window;
  *   - iterate ([[BoundedIteration.fixpoint]]): forward ∪ reverse edges
  *     self-joined on the shared endpoint → candidate pairs; a
  *     per-node deterministic hash-ranked cap bounds the candidate
  *     explosion at `maxCandidates` (the paper's ρ-sampling, made
  *     reproducible); exact cosine on surviving candidates only
  *     (codegen'd [[graft.plans.VecCosine]]); union with current
  *     edges → windowed top-k per node;
  *   - every join is an equi-join on vector ids; per-iteration work is
  *     Θ(n · maxCandidates) scored pairs — never all-pairs, so the
  *     build survives 100 TB-scale corpora where LSH/IVF recall decays
  *     (q228's honest report is what motivates this operator).
  *
  * Output: the converged graph (vec_id, rk, neighbor_id, cosine) —
  * the index artifact a query-time beam search (or a downstream
  * hard-negative miner, q122) consumes. Determinism: init, candidate
  * sampling and all tie-breaks are pure functions of ids, so reruns
  * are bit-identical — asserted in the spec, along with recall vs the
  * brute-force graph and round-over-round improvement. */
object AnnGraph {

  /** Deterministic pseudo-random init: bucket by xxhash64(id), link each
    * id to the next k ids in hash order within its bucket. Buckets are
    * sized ≫ k by choosing numBuckets ≈ n / (8k) at the caller. */
  private[operators] def initEdges(vecs: DataFrame, k: Int, numBuckets: Int): DataFrame = {
    val w = Window.partitionBy("__bkt").orderBy("__h", "id")
    val bucketed = vecs
      .select(col("id"), col("vec"))
      .withColumn("__h", xxhash64(col("id")))
      .withColumn("__bkt", pmod(col("__h"), lit(numBuckets)))
    val withLeads = (1 to k).foldLeft(bucketed) { (df, j) =>
      df.withColumn(s"__nb$j", lead(col("id"), j).over(w))
    }
    withLeads
      .select(col("id"), array((1 to k).map(j => col(s"__nb$j")): _*).as("nbs"))
      .select(col("id"), explode(col("nbs")).as("nb"))
      .filter(col("nb").isNotNull)
  }

  /** Vector-count ceiling for broadcasting the (id, vec) table into the
    * scoring joins (r11): ~300 B/row at 64 float dims → ~600 MB at the
    * ceiling, inside Spark's broadcast limits. Below it the two scoring
    * joins are map-side (the candidate pairs are never shuffled at all);
    * above it the hint is dropped and the joins degrade to shuffles — a
    * billions-of-vectors corpus runs slower, not not-at-all (the
    * [[Graph.MaxBroadcastNodes]] discipline applied to vectors). */
  private[graft] val MaxBroadcastVecs: Long =
    // r12 (advice): derive the ceiling from the actual heap instead of a
    // flat 2 M — ~300 B/row framed, admit at most 1/16 of the heap as one
    // broadcast relation (several are alive at once across the scoring
    // joins). A 16 g driver keeps the old 2 M ceiling; smaller heaps
    // degrade to shuffle joins instead of a broadcast OOM.
    math.min(2000000L, Runtime.getRuntime.maxMemory / 16 / 300)

  /** Attach exact cosine to (id, nb) pairs via two id-keyed equi-joins.
    * `hint` is [[broadcast]] when the vector table fits (gated on its
    * measured count), identity otherwise. */
  private def scored(
      pairs: DataFrame, vecs: DataFrame,
      hint: DataFrame => DataFrame): DataFrame = {
    val va = vecs.select(col("id"), col("vec").as("__va"))
    val vb = vecs.select(col("id").as("nb"), col("vec").as("__vb"))
    pairs
      .join(hint(va), "id")
      .join(hint(vb), "nb")
      .select(col("id"), col("nb"), cosine(col("__va"), col("__vb")).as("sim"))
  }

  /** Keep each node's best k DISTINCT neighbors (sim desc, id
    * tie-break). The dedup matters: a candidate re-scored in a later
    * round re-enters with the same sim, and without it duplicates
    * occupy top-k slots that should hold real neighbors.
    *
    * r11: one groupBy(id) aggregate — collect_set dedups (sim is a pure
    * function of (id, nb), so (sim, nb) duplicates ARE (id, nb)
    * duplicates), a descending array sort on (sim, −nb) reproduces the
    * former window's (sim desc, nb asc) order INCLUDING its NaN-first
    * semantics, and slice keeps k. Replaces the dropDuplicates exchange
    * + the window exchange-and-sort with a single partial-aggregating
    * exchange; per-node arrays are ≤ maxCandidates + k elements. */
  private def topK(edges: DataFrame, k: Int): DataFrame =
    edges
      .groupBy("id")
      .agg(slice(
        sort_array(collect_set(struct(col("sim"), (-col("nb")).as("negnb"))), asc = false),
        1, k).as("__top"))
      .select(col("id"), explode(col("__top")).as("__t"))
      .select(col("id"), (-col("__t.negnb")).as("nb"), col("__t.sim").as("sim"))

  /** Build the k-NN graph. `embeddings` must have (vec_id, embedding).
    * Returns (id, nb, sim) — k rows per node (fewer only for degenerate
    * tiny buckets at init that the iterations then repair). */
  /** The build loop over an ALREADY-CACHED (id, vec) table with a
    * pre-measured count — callers own the cache lifetime, so multi-stage
    * consumers (search, recall, insert) never re-scan the corpus or
    * re-count it per stage (r12, advice: the gate count is paid once). */
  private[operators] def buildGraph(
      vecs: DataFrame,
      n: Long,
      k: Int,
      iterations: Int,
      maxCandidates: Int): DataFrame = {
    val hint: DataFrame => DataFrame =
      if (n <= MaxBroadcastVecs) broadcast else identity
    val numBuckets = math.max(1L, n / math.max(1, 8 * k)).toInt
    val init = topK(scored(initEdges(vecs, k, numBuckets), vecs, hint), k)

    BoundedIteration.fixpoint(init, iterations) { (edges, _) =>
      // forward ∪ reverse neighborhoods share one shuffle key space;
      // sims ride along to prioritize the candidate budget
      val fwd = edges.select(col("id"), col("nb"), col("sim"))
      val undirected = fwd.unionAll(
        fwd.select(col("nb").as("id"), col("id").as("nb"), col("sim")))
      // neighbors-of-neighbors through the shared endpoint, prioritized
      // by the two generating edges' similarity sum — the budget goes to
      // likely-near pairs first (deterministic: ties break on ids),
      // which converges far faster than uniform ρ-sampling
      val cands = undirected.as("g1")
        .join(undirected.as("g2"), col("g1.nb") === col("g2.id"))
        .select(
          col("g1.id").as("id"), col("g2.nb").as("nb"),
          (col("g1.sim") + col("g2.sim")).as("prio"))
        .filter(col("id") =!= col("nb"))
        .groupBy("id", "nb").agg(max("prio").as("prio"))
      // r11: the ρ-sampling cap is the same descending array sort as
      // topK (prio desc, nb asc, NaN-first — identical selection to the
      // former row_number window) fused into one groupBy(id); its
      // exploded output stays hash-partitioned by id, the broadcast
      // scoring joins preserve that, and the union's edge side is a
      // checkpoint scan — so the closing topK aggregate needs no new
      // exchange. Per iteration: 4 exchanges where the window form
      // paid 8.
      val capped = cands
        .groupBy("id")
        .agg(slice(
          sort_array(collect_list(struct(col("prio"), (-col("nb")).as("negnb"))), asc = false),
          1, maxCandidates).as("__c"))
        .select(col("id"), explode(col("__c")).as("__t"))
        .select(col("id"), (-col("__t.negnb")).as("nb"))
      topK(scored(capped, vecs, hint).unionByName(edges.select("id", "nb", "sim")), k)
    }
  }

  def nnDescentGraph(
      embeddings: DataFrame,
      k: Int = 10,
      iterations: Int = 4,
      maxCandidates: Int = 60): DataFrame = {
    val vecs = embeddings
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .cache()
    val n = vecs.count()
    val result = buildGraph(vecs, n, k, iterations, maxCandidates)
    vecs.unpersist(blocking = false)
    result
  }

  /** The registered q263 surface: the graph rows for the first
    * `showNodes` ids (deterministic, small), ranked. Rows-only — the
    * spec owns recall-vs-brute-force and determinism assertions. */
  def nnDescentTopK(
      embeddings: DataFrame,
      k: Int = 10,
      iterations: Int = 4,
      showNodes: Int = 5): DataFrame = {
    val w = Window.partitionBy("id").orderBy(desc("sim"), asc("nb"))
    nnDescentGraph(embeddings, k, iterations)
      .filter(col("id") < showNodes)
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(
        col("id").as("vec_id"), col("rk"), col("nb").as("neighbor_id"),
        round(col("sim"), 4).as("cosine"))
      .orderBy("vec_id", "rk")
  }

  /** q265: query-time companion of [[nnDescentGraph]] — ALL queries
    * beam-search the neighbor graph simultaneously, as relational
    * rounds (the batch dual of HNSW's sequential greedy descent):
    *
    *   - entry points: the `beamWidth` corpus nodes with smallest
    *     xxhash64(id) — deterministic, shared by every query, scored
    *     per query in one broadcast join;
    *   - each round ([[BoundedIteration.fixpoint]]): the top-`beamWidth`
    *     UNEXPANDED nodes per query (windowed) fan out through the
    *     graph's edges (equi-join), already-visited nodes are
    *     anti-joined away, survivors are scored with exact cosine and
    *     join the visited set; expansion is Θ(queries · beam · k) rows
    *     per round — independent of corpus size, which is the whole
    *     point: at 100 TB the scan cost is the GRAPH BUILD's, and each
    *     query then touches ~beam·k·hops vectors;
    *   - after `maxHops` rounds, the answer is each query's top-k
    *     visited.
    *
    * State is one DataFrame (qid, node, sim, expanded) — hop-resumable
    * like every BoundedIteration loop. */
  def graphSearch(
      embeddings: DataFrame,
      numQueries: Int = 3,
      k: Int = 5,
      beamWidth: Int = 8,
      maxHops: Int = 3,
      graphK: Int = 10,
      iterations: Int = 4): DataFrame = {
    // r12: ONE cached projection of the corpus serves the graph build,
    // the broadcast gate (count paid once — the former shape re-scanned
    // the raw corpus just to evaluate the gate), the per-round scoring
    // joins (each round's broadcast builds from the cache, not from a
    // fresh parquet scan) and the seed pick.
    val corpusVecs = embeddings.filter(col("vec_id") >= numQueries)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .cache()
    val n = corpusVecs.count()
    val graph = buildGraph(corpusVecs, n, graphK, iterations, maxCandidates = 60)
      .select(col("id"), col("nb")).localCheckpoint(eager = true)
    val vecs = corpusVecs.select(col("id").as("node"), col("vec").as("cv"))
    // r11: gate the corpus-vector scoring join on the same broadcast
    // ceiling as the build — below it candidate rows are never shuffled
    val hint: DataFrame => DataFrame =
      if (n <= MaxBroadcastVecs) broadcast else identity
    val qs = embeddings.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def score(cand: DataFrame): DataFrame =
      cand
        .join(hint(vecs), "node")
        .join(broadcast(qs), "qid")
        .select(col("qid"), col("node"), cosine(col("qv"), col("cv")).as("sim"))
    // deterministic shared entry points
    val seeds = corpusVecs.select(col("id").as("node"))
      .orderBy(xxhash64(col("node")), col("node"))
      .limit(beamWidth)
    val init = score(seeds.crossJoin(qs.select("qid")))
      .withColumn("expanded", lit(false))
    val wBeam = Window.partitionBy("qid").orderBy(desc("sim"), asc("node"))
    val visited = BoundedIteration.fixpoint(init, maxHops) { (state, _) =>
      val frontier = state.filter(!col("expanded"))
        .withColumn("__r", row_number().over(wBeam))
        .filter(col("__r") <= beamWidth)
        .select(col("qid"), col("node"))
      val fresh = frontier
        .join(graph, frontier("node") === graph("id"))
        .select(col("qid"), col("nb").as("node"))
        .distinct()
        .join(state.select("qid", "node"), Seq("qid", "node"), "left_anti")
      // frontier rows flip to expanded; everything else is carried as-is
      // (r11: one left join marks the flip — the former semi+anti+union
      // pair scanned and shuffled the state twice for the same result)
      state
        .join(frontier.withColumn("__f", lit(true)), Seq("qid", "node"), "left")
        .withColumn("expanded", col("expanded") || coalesce(col("__f"), lit(false)))
        .drop("__f")
        .unionByName(score(fresh).withColumn("expanded", lit(false)))
    }
    // the loop state is checkpointed every round, so the final ranking
    // below never re-reads the corpus — the cache can go now
    corpusVecs.unpersist(blocking = false)
    visited
      .withColumn("rk", row_number().over(wBeam).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("node").as("cid"), round(col("sim"), 4).as("cosine"))
      .orderBy("qid", "rk")
  }

  /** q266: incremental graph MAINTENANCE — new vectors join an existing
    * NN-descent graph without a full rebuild (the index-update story a
    * continuously-ingesting corpus needs: rebuilding a 100 TB graph per
    * micro-batch is a non-starter; inserting a batch must cost
    * Θ(new · cap), not Θ(corpus)).
    *
    * Rounds are the standard descent step with candidate generation
    * RESTRICTED to pairs that involve a new node — as an endpoint or as
    * the shared middle — so only neighborhoods the batch actually
    * touches are re-scored; the touched frontier grows exactly as new
    * edges propagate. Old↔old edges never regenerate. Existing nodes
    * DO adopt new neighbors (the reverse direction rides the same
    * undirected expansion), so the graph converges to what a full
    * rebuild would give on the affected neighborhoods.
    *
    * Runs over an ALREADY-CACHED (id, vec) corpus (count pre-measured)
    * and cached new-id set — same cache-lifetime contract as
    * [[buildGraph]] (r12). */
  private[graft] def insertLoop(
      graph: DataFrame,
      vecs: DataFrame,
      n: Long,
      nw: DataFrame,
      k: Int,
      iterations: Int,
      maxCandidates: Int): DataFrame = {
    // seed the batch into the graph: hash-bucket init over ALL ids, kept
    // only where a new node is an endpoint (old↔old seeds are noise)
    val hint: DataFrame => DataFrame =
      if (n <= MaxBroadcastVecs) broadcast else identity
    val numBuckets = math.max(1L, n / math.max(1, 8 * k)).toInt
    // "involves a new node" is expressed as two broadcast flag joins +
    // an OR filter (the new batch is micro-batch-sized by definition),
    // NOT as a union of semi-joins: the union shape both reorders
    // columns (using-col-first, silently swapping id/nb in a positional
    // union — measured as "old nodes never adopt") and trips a Catalyst
    // constraint-rewrite bug (UnionBase.rewriteConstraints
    // NoSuchElementException) on unions of semi-joined twins.
    val flagId = broadcast(nw.select(col("id"), lit(true).as("__n1")))
    val flagNb = broadcast(nw.select(col("id").as("nb"), lit(true).as("__n2")))
    def touchesNew(df: DataFrame): DataFrame = df
      .join(flagId, Seq("id"), "left")
      .join(flagNb, Seq("nb"), "left")
      .filter(coalesce(col("__n1"), lit(false)) || coalesce(col("__n2"), lit(false)))
      .drop("__n1", "__n2")
    val seeds = touchesNew(initEdges(vecs, k, numBuckets)).select("id", "nb").distinct()
    // constraint-free round-trip for both union inputs: checkpointed
    // frames keep their ORIGIN constraints (stale attribute ids), and
    // Catalyst's UnionBase.rewriteConstraints throws
    // NoSuchElementException when a union child carries constraints
    // over attributes not in its output — createDataFrame(rdd, schema)
    // yields a clean LogicalRDD with no constraint baggage
    def fresh(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(df.rdd, df.schema)
    val init = topK(
      fresh(scored(seeds, vecs, hint))
        .unionByName(fresh(graph.select("id", "nb", "sim"))), k)
    val result = BoundedIteration.fixpoint(init, iterations) { (edges, _) =>
      val fwd = edges.select(col("id"), col("nb"), col("sim"))
      val undirected = fwd.unionAll(
        fwd.select(col("nb").as("id"), col("id").as("nb"), col("sim")))
      // only edges touching the batch expand: new endpoint or new middle
      val touching = touchesNew(undirected).select("id", "nb", "sim")
      val raw = touching.as("g1")
        .join(undirected.as("g2"), col("g1.nb") === col("g2.id"))
        .select(
          col("g1.id").as("id"), col("g2.nb").as("nb"),
          (col("g1.sim") + col("g2.sim")).as("prio"))
        .filter(col("id") =!= col("nb"))
      // symmetrize, then keep only pairs with a NEW endpoint: a pair is
      // scored from BOTH sides (else old nodes could never ADOPT an
      // inserted neighbor — only the new side would learn the edge),
      // while old↔old pairs reachable through a new middle are dropped
      // (maintenance updates touched neighborhoods; it does not
      // re-optimize the old graph's internal structure)
      val sym = raw.unionAll(
        raw.select(col("nb").as("id"), col("id").as("nb"), col("prio")))
      val cands = touchesNew(sym)
        .groupBy("id", "nb").agg(max("prio").as("prio"))
      // same similarity-prioritized deterministic cap as the build loop
      // (r11: fused array-sort form, selection identical to the former
      // row_number window — see nnDescentGraph)
      val capped = cands
        .groupBy("id")
        .agg(slice(
          sort_array(collect_list(struct(col("prio"), (-col("nb")).as("negnb"))), asc = false),
          1, maxCandidates).as("__c"))
        .select(col("id"), explode(col("__c")).as("__t"))
        .select(col("id"), (-col("__t.negnb")).as("nb"))
      topK(scored(capped, vecs, hint).unionByName(edges.select("id", "nb", "sim")), k)
    }
    result
  }

  /** The registered q266 surface: build on the stable 90%, insert the
    * newest 10%, report the inserted nodes' neighborhoods (ranked,
    * deterministic). */
  def incrementalGraphTopK(
      embeddings: DataFrame,
      k: Int = 10,
      newFraction: Double = 0.1,
      showNodes: Int = 5): DataFrame = {
    // r12: ONE cached projection of the corpus serves the cut scalar,
    // the base build (as a filtered cache view) and the insert loop —
    // the former shape scanned raw parquet for max(), cached the base
    // inside nnDescentGraph, then cached the full corpus AGAIN for the
    // insert.
    val vecs = embeddings
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .cache()
    val nAll = vecs.count()
    val cut = math.floor(
      vecs.agg(max("id")).head().getLong(0) * (1.0 - newFraction)).toLong
    val baseVecs = vecs.filter(col("id") <= cut)
    // 3-round base build: the operator under test is the INSERT; the
    // base graph only needs to be a realistic starting index
    val graph = buildGraph(baseVecs, baseVecs.count(), k, iterations = 3, maxCandidates = 60)
    val nw = vecs.filter(col("id") > cut).select("id").cache()
    val updated = insertLoop(graph, vecs, nAll, nw, k, iterations = 2, maxCandidates = 60)
    // both loops checkpoint their state every round — the final ranking
    // below reads checkpoints only, so the caches can go now
    nw.unpersist(blocking = false)
    vecs.unpersist(blocking = false)
    val w = Window.partitionBy("id").orderBy(desc("sim"), asc("nb"))
    updated
      .filter(col("id") > cut && col("id") <= cut + showNodes)
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(
        col("id").as("vec_id"), col("rk"), col("nb").as("neighbor_id"),
        round(col("sim"), 4).as("cosine"))
      .orderBy("vec_id", "rk")
  }

  /** Recall of the NN-descent graph against the exact k-NN graph,
    * restricted to `sampleNodes` probe nodes (the exact side is an
    * all-pairs top-k, affordable only on a sample — same honesty
    * discipline as q228). One row: probe count + avg/min recall. */
  def nnDescentRecall(
      embeddings: DataFrame,
      k: Int = 10,
      iterations: Int = 4,
      sampleNodes: Int = 50): DataFrame = {
    // NOTE (r12): routing the exact brute-force side through the build's
    // array cache was measured SLOWER (cpu ~8 → ~11 s warm at sf0.1) —
    // the in-memory columnar codec for array<float> costs more per scan
    // than the parquet read it replaces — so the exact side keeps its
    // raw projection and only the build shares the cache.
    val graph = nnDescentGraph(embeddings, k, iterations)
      .filter(col("id") < sampleNodes)
    val vecs = embeddings.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val probes = vecs.filter(col("id") < sampleNodes)
      .select(col("id").as("pid"), col("vec").as("pv"))
    val wexact = Window.partitionBy("pid").orderBy(desc("sim"), asc("id"))
    val exact = vecs.crossJoin(broadcast(probes))
      .filter(col("id") =!= col("pid"))
      .withColumn("sim", cosine(col("pv"), col("vec")))
      .withColumn("rk", row_number().over(wexact))
      .filter(col("rk") <= k)
      .select(col("pid").as("id"), col("id").as("nb"))
    val hits = graph.select("id", "nb").join(exact, Seq("id", "nb"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("h"))
    exact.select("id").distinct()
      .join(hits, Seq("id"), "left")
      .select(col("id"), (coalesce(col("h"), lit(0L)) / k.toDouble).as("recall"))
      .agg(
        count(lit(1)).as("n_probes"),
        round(avg("recall"), 4).as("avg_recall"),
        round(min("recall"), 4).as("min_recall"))
  }
}
