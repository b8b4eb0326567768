package graft.algos

import graft.prims.Mat._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{PropertyGraph, Structure, Gr}

/** Community detection: Louvain (+ Leiden-style refinement hook, ECG) and
  * the clustering-quality analyzers (modularity / edge cut / ratio cut).
  *
  * Reference: `community/louvain_impl.cuh` (`algorithms.hpp:548` — modularity
  * `:175`, delta-modularity moves `:194`, contraction via `coarsen_graph`
  * `:267`), `community/ecg_impl.cuh` (`:784`), spectral clustering quality
  * metrics (`algorithms.hpp:216,300,384`).
  *
  * Spark realization of one Louvain move round: per-vertex
  * neighbor-community weights = one join + groupBy(vertex, community); best
  * move = Window top-1 by delta-modularity; community aggregates = one
  * groupBy(community). Contraction = `Structure.coarsen` (join×2 + agg).
  */
object Community {
  import Gr._

  /** Modularity of a partition: Q = Σ_c (in_c/2m − (tot_c/2m)²) over the
    * undirected weighted graph. `labels`: (id, <label>). Exact, one pass.
    * `stateRows`: the label-table row count when the caller already tracks
    * it (≥0 engages the size-gated broadcast of the labels into both edge
    * joins — prims.Hint.state; default −1 = unknown, plain joins). */
  def modularity(und: DataFrame, labels: DataFrame, resolution: Double = 1.0,
                 stateRows: Long = -1L, m2Known: Double = Double.NaN): Double = {
    val l = labels.select(col(labels.columns(0)).as(ID), col(labels.columns(1)).as("c"))
    val e = und.select(col(SRC), col(DST), col(WEIGHT))
    // = 2m (both directions present). Contraction-invariant (coarsen keeps
    // self-loops and summed weights), so per-level callers pass the base
    // graph's value instead of paying a full edge scan per level (r11-opt);
    // weights are integral on every gated fixture, so the two computations
    // are the same exact integer.
    val m2 = if (m2Known.isNaN) e.agg(sum(WEIGHT)).first().getDouble(0) else m2Known
    val withC = e
      .join(graft.prims.Hint.state(
        l.select(col(ID).as(SRC), col("c").as("c_src")), stateRows), SRC)
      .join(graft.prims.Hint.state(
        l.select(col(ID).as(DST), col("c").as("c_dst")), stateRows), DST)
    // ONE aggregation pass computes both Σ_c totals (r11-opt: the previous
    // inC/totC pair each re-scanned the double-join output — two full
    // passes over the joined edge stream for two sums the same groupBy
    // produces together). in_w as a conditional sum over the identical row
    // multiset; integral weights keep it bit-exact, and communities with no
    // intra edge get 0.0 exactly as the old left-join coalesce produced.
    val parts = withC.groupBy("c_src")
      .agg(sum(WEIGHT).as("tot_w"),
        sum(when(col("c_src") === col("c_dst"), col(WEIGHT)).otherwise(lit(0.0))).as("in_w"))
      .select((coalesce(col("in_w"), lit(0.0)) / m2
        - lit(resolution) * pow(col("tot_w") / m2, 2)).as("q"))
    parts.agg(sum("q")).first().getDouble(0)
  }

  /** Louvain with synchronous move rounds + graph contraction per level.
    * @return (labels DataFrame(id, louvain), modularity). Deterministic:
    * ties broken by smallest community id. */
  def louvain(g: PropertyGraph, maxLevel: Int = 10, maxIter: Int = 20,
              resolution: Double = 1.0, threshold: Double = 1e-7): (DataFrame, Double) = {
    val (f, q, _) = louvainWithLevels(g, maxLevel, maxIter, resolution, threshold)
    (f, q)
  }

  /** [[louvain]] also reporting how many levels actually RAN, so exact
    * gates can assert the branch the oracle unrolled (q_louvain requires
    * levels == 2 — the DuckDB side computes both levels unconditionally). */
  def louvainWithLevels(g: PropertyGraph, maxLevel: Int = 10, maxIter: Int = 20,
                        resolution: Double = 1.0,
                        threshold: Double = 1e-7): (DataFrame, Double, Int) = {
    val base = Structure.removeSelfLoops(
      Structure.symmetrize(g.weightedEdges.select(SRC, DST, WEIGHT), sumWeights = false))
      .mat
    val r = louvainPrepared(base, maxLevel, maxIter, resolution, threshold)
    // the returned flat labels are materialized and carry no lineage into
    // base — free the 2E-row prepared frame now (prims.Release scaladoc)
    graft.prims.Release.free(base)
    r
  }

  /** [[louvainWithLevels]] on an ALREADY-prepared base: symmetrized (both
    * directions present), self-loop-free, materialized. Skips the
    * symmetrize shuffle — the ECG final pass feeds its reweighted ensemble
    * frame here directly (it is symmetric by construction: votes are
    * aggregated per direction of the symmetrized ensemble edge list), where
    * re-symmetrizing would re-shuffle 2E rows for an identical result. */
  def louvainPrepared(base: DataFrame, maxLevel: Int = 10, maxIter: Int = 20,
                      resolution: Double = 1.0,
                      threshold: Double = 1e-7): (DataFrame, Double, Int) = {
    // labels carried across levels: id -> community in the ORIGINAL graph.
    // Built lazily (r12): level 1's label table IS the flat map over the
    // vertex list (level-1 vertices are the original vertices), so the
    // up-front extractVertexList materialization and the level-1 re-map
    // join are both skipped — flat starts null and level 1 assigns it.
    var flat: DataFrame = null
    var lvlEdges = base
    // ONE setup pass (r12; was two edge scans — the m2 agg and the k² agg):
    // per-vertex k from a grouped agg, then Σk (= Σw = 2m), Σk² (for the
    // singleton-partition Q₀ = −res · Σ k_i² / (2m)², base has no
    // self-loops) and a weight-integrality flag in one reduction.
    val setup = base.groupBy(col(SRC))
      .agg(sum(WEIGHT).as("k"),
        max(when(col(WEIGHT) =!= round(col(WEIGHT)), 1).otherwise(0)).as("fr"))
      .agg(sum("k").as("m2"), sum(pow(col("k"), 2)).as("k2"), max("fr").as("fr"))
      .first()
    // Integral weights (every gated fixture): the regrouped Σk is the same
    // exact integer-valued double as the flat edge-scan Σw, and the
    // contraction-invariant m2 can serve every level's modularity without
    // ulp drift. Fractional weights (ADVICE r11 #1): the regrouped sum and
    // the per-level contracted sums can differ by ulps — keep the flat
    // edge-scan m2 and the per-level re-scan semantics there, so the
    // q − prevQ ≤ threshold level exit sees the exact pre-r11 values.
    val integralW = setup.getInt(2) == 0
    val m2v = if (integralW) setup.getDouble(0)
              else base.agg(sum(WEIGHT)).first().getDouble(0)
    val m2ForLevels = if (integralW) m2v else Double.NaN
    var prevQ = -resolution * setup.getDouble(1) / (m2v * m2v)
    var level = 0
    var improved = true
    // whether lvlEdges is a frame THIS loop materialized (level ≥ 2's
    // contracted graph) — the level-1 base belongs to the caller and is
    // never freed here
    var ownsLvlEdges = false
    while (level < maxLevel && improved) {
      level += 1
      val (lvlLabels, nLvl) = oneLevelCounted(lvlEdges, maxIter, resolution)
      // map original vertices through this level's assignment — the level
      // label table is one row per CURRENT-level vertex (shrinks per
      // level), so it rides the same size-gated broadcast as the in-round
      // state joins instead of shuffling the original-V flat table.
      // Level 1: the label table already IS the (original id → community)
      // map over exactly the base vertex set (oneLevel's state covers every
      // endpoint of base, the same set extractVertexList(base) yields), so
      // it becomes flat directly — no vertex-list build, no re-map join.
      val newFlat =
        if (flat == null)
          lvlLabels.select(col(ID), col("community").as("louvain")).mat
        else flat.join(graft.prims.Hint.state(
            lvlLabels.withColumnRenamed(ID, "louvain_old")
              .withColumnRenamed("community", "louvain_new"), nLvl),
            flat("louvain") === col("louvain_old"))
          .select(flat(ID), col("louvain_new").as("louvain"))
          .mat
      if (flat != null) graft.prims.Release.free(flat)
      flat = newFlat
      // modularity is contraction-invariant (coarsen keeps self-loops and
      // summed weights), so evaluate on the CURRENT level's graph — after
      // level 1 that is the contracted graph, orders of magnitude smaller
      // than re-scoring `base` with the flattened labels
      val q = modularity(lvlEdges, lvlLabels, resolution, stateRows = nLvl,
        m2Known = m2ForLevels)
      if (q - prevQ <= threshold) improved = false
      else {
        prevQ = q
        // contract for the next level; self-loops (intra-community weight)
        // must be KEPT — they carry in_c forward
        val contracted = Structure.coarsen(lvlEdges, lvlLabels).mat
        if (ownsLvlEdges) graft.prims.Release.free(lvlEdges)
        lvlEdges = contracted
        ownsLvlEdges = true
      }
      // the level's label table (final move-phase state) fed the flat
      // re-map, the modularity scalar, and the contraction — all
      // materialized or eagerly evaluated above; its blocks are dead
      graft.prims.Release.free(lvlLabels)
    }
    if (ownsLvlEdges) graft.prims.Release.free(lvlEdges)
    // maxLevel <= 0 means no level ever ran and the lazy flat is still
    // null — return the identity (singleton-community) labels the pre-r12
    // eager build produced for that degenerate call. Materialized like
    // every other return: callers free `base` (and may free the labels)
    // right after, so the labels must not read through it.
    if (flat == null)
      flat = Structure.extractVertexList(base).select(col(ID), col(ID).as("louvain")).mat
    (flat, prevQ, level)
  }

  /** One Louvain level: synchronous best-move rounds until no vertex moves.
    * @return (DataFrame(id, community), vertex count of this level). */
  private def oneLevelCounted(und: DataFrame, maxIter: Int,
                              resolution: Double): (DataFrame, Long) = {
    // callers (louvainPrepared) always pass a MATERIALIZED level graph
    // (the prepared base or a coarsen .mat), so the level skips its own
    // full-size edge copy — at scale 22 that copy was 134M rows per level
    val (labels, _, n) =
      oneLevelKeyedCounted(und.withColumn("run", lit(0L)), maxIter, resolution,
        inputMat = true)
    (labels.drop("run"), n)
  }

  /** Public level-1 entry exposing the ROUND COUNT, for gates that pin the
    * exact move schedule (the q_louvain_l1 DuckDB oracle unrolls the same
    * fixed rounds: full-move round 1, then parity-masked rounds — see
    * oneLevelKeyed). Prep matches [[louvain]]: self-loops dropped,
    * symmetrized without weight summing. */
  def oneLevelWithRounds(g: PropertyGraph, maxIter: Int = 20,
                         resolution: Double = 1.0): (DataFrame, Int) = {
    val base = Structure.removeSelfLoops(
      Structure.symmetrize(g.weightedEdges.select(SRC, DST, WEIGHT), sumWeights = false))
    val (labels, rounds) =
      oneLevelKeyed(base.withColumn("run", lit(0L)), maxIter, resolution)
    (labels.drop("run"), rounds)
  }

  /** Batched one-level Louvain over MANY graphs at once: every state table
    * carries a `run` key, so an ensemble of R randomized runs (ECG) costs
    * one set of per-round jobs instead of R — the same batching trick as
    * multi-source BFS and k-sampled Brandes (SURVEY §7.4-2). The per-run
    * 2m normalizer is a broadcast-joined table instead of a driver scalar.
    * Converged runs simply stop changing while the stragglers finish.
    * Input: (run, src, dst, weight); output ((run, id, community), rounds). */
  private def oneLevelKeyed(undK: DataFrame, maxIter: Int,
                            resolution: Double): (DataFrame, Int) = {
    val (labels, rounds, _) = oneLevelKeyedCounted(undK, maxIter, resolution)
    (labels, rounds)
  }

  /** `inputMat`: the caller's edge frame is already materialized, so the
    * run-keyed projection over it is recomputable at scan cost — skip the
    * level's own full-size checkpoint copy (and don't free the caller's
    * frame). The ECG ensemble path keeps `inputMat = false`: its input is
    * an expensive lazy explode that must be pinned once. */
  private def oneLevelKeyedCounted(undK: DataFrame, maxIter: Int,
                                   resolution: Double,
                                   inputMat: Boolean = false): (DataFrame, Int, Long) = {
    val e = if (inputMat) undK else undK.mat
    // k_i: weighted degree (self-loops count fully toward k_i here since the
    // coarsened graph stores c->c weight once per direction pair). The row
    // degree rides along so every level-setup scalar below derives from this
    // one V-row table instead of re-scanning the 2E-row edge frame.
    val ki = e.groupBy(col("run"), col(SRC).as(ID))
      .agg(sum(WEIGHT).as("k"), count(lit(1)).as("deg")).mat
    // ONE stats job per level (r11-opt; was three: ki.count, an m2 agg over
    // the full edge frame, e.count): per-run 2m normalizer (Σ k_i = Σ w —
    // integral weights, so the regrouped sum is the same exact integer),
    // state size, and the edge-row count that sizes the stream cache.
    // explicit casts keep the collect type-safe for any caller passing an
    // int run key or integer weights (getLong/getDouble would CCE)
    val stats = ki.groupBy(col("run").cast("long").as("run"))
      .agg(sum("k").cast("double").as("m2"), sum("deg").as("ne"),
        count(lit(1)).as("nv"))
      .collect()
    val m2Map: Map[Long, Double] =
      stats.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val m2Col = element_at(typedlit(m2Map), col("run"))
    // per-(run,vertex) state size — broadcast it into the edge join when
    // small (prims.Hint.state) so each round scans edges in place
    val nState = stats.map(_.getLong(3)).sum
    // regime split decided once: under the gate the per-round state
    // broadcast serves every attach (see the round body); past it the
    // r10 shuffle-hash shape is kept verbatim
    val broadcastRound = nState <= 5000000L
    // the loop state carries k ALONGSIDE the label: every consumer of the
    // old per-round labels⋈ki join (community totals, candidate scoring)
    // now reads one checkpointed frame — two recomputed join subplans per
    // round gone. Values are identical; all gated fixtures carry
    // integer-valued weights, so every reordered sum stays bit-exact.
    var state = ki.select(col("run"), col(ID), col(ID).as("community"), col("k")).mat
    // A/B (VERDICT r6 item #6): carry the per-community k-totals across
    // rounds, updated from the movers' deltas, instead of re-aggregating
    // nState rows every round. Exact on the gated fixtures (integer-valued
    // k sums associate freely); kept behind a flag until the scale probe
    // picks a winner — see BASELINE.md round-7 for the measurement.
    // RESTRICTION (ADVICE r7): the carried-totals merge is exact only for
    // integer-valued weights — fractional k sums drift under the mover-delta
    // merge, and the tot=!=0.0 compaction filter could then retain phantom
    // or drop legitimately-tiny community rows. The flag is an off-by-
    // default A/B (measured a wash at scale-20, BASELINE r7); anyone turning
    // it on for fractional-weight graphs gets the re-aggregation path's
    // semantics only approximately.
    // ADVICE r11 #2: under the broadcast regime the flag bought only dead
    // per-round work — totState was maintained (full join + mat per round)
    // but never consumed, since stPlus recomputes community totals from
    // state via a window inside the broadcast build. The A/B flag is now
    // scoped to the shuffle-hash regime, the only place `tot` is read.
    val carryTot = sys.env.contains("GRAFT_CARRY_TOT") && !broadcastRound
    var totState: DataFrame =
      if (carryTot) state.groupBy("run", "community").agg(sum("k").as("tot")).mat
      else null
    // Edge stream prepared ONCE per level (r7 verdict item #2 — cut the
    // per-round job count): static per-source k attached (the candidate
    // rows then carry k, so scoring needs no per-vertex state join), and
    // the whole stream CACHED pre-partitioned by (run, dst). The per-round
    // community attach is then a shuffle-hash join in which ONLY the
    // nState-row state side moves — the edge stream never re-exchanges and
    // never broadcasts (cache(), unlike localCheckpoint-mat, preserves the
    // outputPartitioning Catalyst needs to elide the edge-side exchange).
    // At 100 TB this is the right shape outright: per round, network
    // traffic is one vertex-state table, not the edge list.
    // The cached stream is runs × edges — at ensemble scale that multiple
    // can dwarf what the session's shuffle width was sized for (the
    // scale-22 ecg4 probe OOM'd here: 536M rows over 134 session
    // partitions = 4M rows/task racing the cache for execution memory).
    // When the stream's own row count at the pinned ~500k rows/task
    // budget needs MORE than the session width, pin that count
    // explicitly; otherwise keep the width-free repartition — an explicit
    // N would opt the exchange out of AQE's partition coalescing, and at
    // gate scale that coalescing is worth ~20% of ECG's wall (measured:
    // 58.9s → 73-75s with N pinned to the session's 32).
    val sessionParts =
      e.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toLong
    val nERows = stats.map(_.getLong(2)).sum // Σ deg — no extra edge scan
    val streamParts = nERows / 500000L + 1L
    // Under the state-broadcast gate the per-round dst attach is a
    // broadcast-hash join (no clustering requirement on the stream), so the
    // stream is cached partitioned by (run, SRC) — the partitioning the
    // candidate aggregation needs — and the whole round runs exchange-free
    // over it (r11-opt; see the round body below). Past the gate the stream
    // keeps its (run, DST) layout for the shuffle-hash state attach.
    val streamKey = if (broadcastRound) col(SRC) else col(DST)
    // r12: for a SINGLE-run level (plain Louvain levels, the ECG final
    // pass) the run column is `lit(0)` and constant-folds INSIDE the cached
    // plan — the cache's outputPartitioning then carries a literal
    // (hashpartitioning(0, src, N)), which can never satisfy an agg/join
    // clustering on the `run` ATTRIBUTE, so Catalyst silently re-exchanged
    // (and re-sorted, for the SortAggregate best-move) the full candidate
    // stream every round — the exact exchange the r11 cache shape was
    // built to remove (caught by this round's GRAFT_LOUVAIN_DEBUG plan
    // capture). Partitioning by the stream key alone is the same
    // clustering when only one run exists (subset rule) and is fold-proof;
    // the multi-run ensemble keeps (run, key) — its run is a real
    // attribute and propagates fine.
    // GRAFT_FOLD_BEFORE=1 reproduces the pre-fix shape (plans/r12 before-capture).
    val singleRun = stats.length == 1 && !sys.env.contains("GRAFT_FOLD_BEFORE")
    val cacheKeys = if (singleRun) Seq(streamKey) else Seq(col("run"), streamKey)
    val eNoSelfK = {
      val kSrc = ki.select(col("run"), col(ID).as(SRC), col("k").as("k_src"))
      val joined = e.filter(col(SRC) =!= col(DST))
        .join(graft.prims.Hint.state(kSrc, nState), Seq("run", SRC))
      (if (streamParts > sessionParts)
         joined.repartition(streamParts.toInt, cacheKeys: _*)
       else joined.repartition(cacheKeys: _*))
        .cache()
    }
    // materialize the cache off the per-round path; the count also sizes
    // the loop's scoped shuffle width below — unlike the label-prop loops,
    // this loop's best-move reduce is keyed by (run, vertex, candidate
    // community), which is edge-stream-bounded, NOT nState-bounded
    val nEdgeStream = eNoSelfK.count()
    // e and ki are consumed: their checkpoint blocks (2E + V rows PER
    // LEVEL) would otherwise be held for the whole composed run — the
    // scale-22 leiden 48g-heap finding (BASELINE.md round-10). eNoSelfK is
    // MEMORY_AND_DISK-cached, so its blocks never drop-and-recompute
    // through the freed lineage in a single-app deployment. When the edge
    // frame belongs to the caller (inputMat) it is NOT freed here.
    if (inputMat) graft.prims.Release.free(ki)
    else graft.prims.Release.free(e, ki)
    var moved = 1L
    var zeroStreak = 0
    var it = 0
    // Synchronous best-move updates can oscillate (two vertices that each
    // want the other's community swap forever — a constant nonzero moved
    // count burning maxIter rounds). Always-on parity masking fixes that
    // but doubles the round count on well-behaved graphs, so parity is
    // ESCALATION, not default: full-move rounds run until the moved count
    // plateaus (non-decreasing while nonzero — the oscillation signature),
    // then rounds switch to the masked regime where only vertices with
    // (id+round) parity may move. Converged = one zero-move full round, or
    // maskMod consecutive zero-move masked rounds (one per residue class).
    // Parity itself can still churn (same-parity neighbors co-moving in a
    // cycle — observed on small G(n,p) graphs by RandomizedSpec): after
    // `StallLimit` consecutive nonzero masked rounds the residue modulus
    // DOUBLES, shrinking the simultaneous-mover set toward one-at-a-time,
    // whose strict-gain moves monotonically raise Q and must terminate.
    // Above modulus 2 the m-consecutive-zero-rounds certificate would cost
    // m rounds, so after two zero masked rounds ONE free probe round
    // certifies instead: zero probe moves = global single-move optimality;
    // nonzero = the free round re-perturbed, escalate the modulus and keep
    // masking. Gated fixtures converge in plain parity mode well before
    // StallLimit, so their unrolled oracles are untouched.
    val StallLimit = 8
    var parityMode = false
    var maskMod = 2L
    var stall = 0
    var probe = false
    var prevMoved = Long.MaxValue
    // AQE off for the loop UNDER THE BROADCAST GATE ONLY (prims.Aqe
    // scaladoc): there every join inside is explicitly broadcast-hinted,
    // so AQE's only contribution is one query-stage job per exchange —
    // with this round shape 6 stage jobs + the materialize, pure scheduler
    // floor. Off, each round pipelines into 3 jobs (2 broadcast builds +
    // the counted materialize) — the r8 jobs/round audit measured 7 → 3 at
    // identical results. PAST the gate (big ensembles: ECG at scale ≥22
    // has runs×V > the 5M bound) the dst attach is a salted SMJ over the
    // power-law edge stream where AQE's runtime skew split and plan sizing
    // earn their keep — disabling it there OOM'd the 32g scale-22 ecg4
    // probe while the same code completed louvain at 4× the per-run data.
    def loopAqe[T](body: => T): T =
      if (nState <= 5000000L)
        graft.prims.Aqe.off(e.sparkSession, math.max(nState, nEdgeStream))(body)
      else body
    try {
    loopAqe {
    while (zeroStreak < maskMod && it < maxIter) {
      it += 1
      // per-vertex weight to each neighboring community (self-loops
      // excluded from candidate weights — a vertex always "links" to its
      // own c). The dst-side community attach is a shuffle-hash join
      // against the cached (run,dst)-partitioned edge stream AT EVERY
      // SCALE: only the state side exchanges, the hint overrides the
      // stats-blind SMJ fallback (LogicalRDD stats would otherwise force
      // per-round sorts of the edge stream). This replaces the r8
      // past-gate salted join, which — by extending the join key with a
      // salt — invalidated the cached (run,dst) partitioning and
      // re-exchanged the FULL ensemble stream twice per round: the
      // scale-22 ecg4 probe burned ~80 GB of shuffle scratch and died on
      // disk, not memory. Salting guards a sort-merge join's per-key sort;
      // a shuffle-hash probe STREAMS the hub partition against a
      // per-partition state map (≤ nState/parts rows), so power-law skew
      // costs task imbalance, never a reducer blow-up.
      //
      // r11-opt, state-broadcast regime: the ENTIRE round is exchange-free
      // over the big stream. One broadcast of the state table serves both
      // per-round attaches (dst community pre-agg, own community post-agg —
      // identical build keys (run, vid), so the exchange is built once and
      // reused); the (run, SRC)-partitioned cache satisfies both the
      // candidate aggregation and the best-move aggregation, so the 2E-row
      // candidate stream that the union+repartition shape exchanged every
      // round never moves at all. The self/stay row is not unioned into the
      // stream anymore: the stay gain is recovered from the candidate row
      // with nc = own community when one exists (same float expression over
      // the same operands), or computed directly from (k, tot) when the
      // vertex has no intra-community neighbor — exactly the value the old
      // explicit self row carried (w_in = 0.0). Decisions are bit-identical
      // (integral weight sums; same gain expression tree; same tie-breaks),
      // which the full oracle suite re-confirms.
      if (broadcastRound) {
        // ONE broadcast per round: per-vertex (community, community k-total)
        // — the total attached by a window INSIDE the broadcast build, so
        // the separate tot broadcast disappears. Both stream attaches (dst:
        // neighbor community + ITS total; src: own community + ITS total)
        // probe this same table with the same pruned projection, so the
        // exchange is built once and reused.
        val stPlus = broadcast(
          state.select(col("run").as("r2"), col(ID).as("vid"),
              col("community").as("c2"), col("k").as("k2"))
            .withColumn("tot2", sum(col("k2")).over(
              Window.partitionBy(col("r2"), col("c2"))))
            .drop("k2"))
        // dst attach (community + its total) pre-agg — it DEFINES the
        // candidate key; the src attach (own community + its total) waits
        // until after the aggregation and probes the COMPACTED
        // per-(vertex, community) rows instead of the full stream
        // (r11-opt round 2: two fewer carried columns and two fewer agg
        // buffers through the stream-sized aggregation; both joins still
        // probe the same broadcast, so the exchange stays built once).
        val cands = eNoSelfK
          .join(stPlus, col("run") === col("r2") && col(DST) === col("vid"))
          .select(col("run"), col(SRC).as(ID), col(WEIGHT).as("w_in"),
            col("k_src").as("k"), col("c2").as("nc"), col("tot2").as("tot_nc"))
          .groupBy(col("run"), col(ID), col("nc"))
          .agg(sum("w_in").as("w_in"), max("k").as("k"),
            max("tot_nc").as("tot"))
        val scored = cands
          .join(stPlus, col("run") === col("r2") && col(ID) === col("vid"))
          .select(col("run"), col(ID), col("nc"), col("c2").as("c_cur"),
            col("k"), col("tot2").as("tot_cur"),
            (col("w_in") - lit(resolution) * col("k") *
              (when(col("nc") === col("c2"), col("tot") - col("k"))
                .otherwise(col("tot"))) / m2Col).as("gain"))
        val best = scored.groupBy(col("run"), col(ID))
          .agg(max_by(struct(col("nc"), col("gain")),
            struct(col("gain"), -col("nc"))).as("b"),
            max(when(col("nc") === col("c_cur"), col("gain"))).as("intra_gain"),
            max(lit(0.0) - lit(resolution) * col("k") * (col("tot_cur") - col("k"))
              / m2Col).as("stay_base"))
        val mayMove =
          if (parityMode && !probe) pmod(col(ID) + lit(it), lit(maskMod)) === 0
          else lit(true)
        val roundFrame = state.join(best, Seq("run", ID), "left")
          .select(col("run"), col(ID), col("community").as("old"),
            when(mayMove &&
                 col("b.gain") > coalesce(col("intra_gain"), col("stay_base")) + lit(1e-12),
              col("b.nc")).otherwise(col("community")).as("community"),
            col("k"))
        if (it == 2 && sys.env.contains("GRAFT_LOUVAIN_DEBUG"))
          System.err.println(roundFrame.queryExecution.executedPlan.toString)
        val (nextC, movedNow) = graft.prims.Iterate.materializeCount(roundFrame,
          sum(when(col("community") =!= col("old"), 1L).otherwise(0L)),
          _.filter(col("community") =!= col("old")).count())
        moved = movedNow
        // (carryTot is never true here — see its definition: stPlus's
        // window already carries the community totals in this regime)
        if (!parityMode) {
          if (moved == 0) zeroStreak = Int.MaxValue
          else parityMode = true
          prevMoved = moved
        } else if (probe) {
          probe = false
          if (moved == 0) zeroStreak = Int.MaxValue
          else { maskMod *= 2; stall = 0; zeroStreak = 0 }
        } else {
          zeroStreak = if (moved == 0) zeroStreak + 1 else 0
          stall = if (moved == 0) 0 else stall + 1
          if (stall >= StallLimit) { maskMod *= 2; stall = 0; zeroStreak = 0 }
          if (maskMod > 2 && zeroStreak >= 2) probe = true
        }
        graft.prims.Release.free(state)
        state = nextC.select(col("run"), col(ID), col("community"), col("k"))
      } else {
      // tot_c = Σ k_i over community members — carried frame (flag) or
      // derived from the state frame (default)
      val tot =
        (if (carryTot) totState else
          state.groupBy("run", "community").agg(sum("k").as("tot")))
        .select(col("run"), col("community").as("nc"), col("tot"))
      val stDst = state.select(col("run"), col(ID).as(DST), col("community").as("nc"))
      val eWithC = eNoSelfK.join(stDst.hint("shuffle_hash"), Seq("run", DST))
      // ONE exchange of the candidate stream per round: hash-partitioned
      // by (run, vertex) up front, which simultaneously satisfies the
      // (run,id,nc) aggregation AND the per-vertex best-move aggregation
      // below.
      //
      // Every vertex gets an explicit own-community candidate row (w_in 0
      // merged into the real intra weight when present): without it a
      // vertex with NO intra-community neighbors — possible mid-flight
      // under synchronous moves — had its stay gain coalesced to 0 where
      // the true value is −res·k·(tot−k)/m2 < 0, overstating "stay" and
      // blocking strictly-improving moves (caught by RandomizedSpec's
      // single-move local-optimality sweep; oracles mirror the same row).
      // The self row doubles as the carrier of the vertex's own community
      // (is_self marker) and its k: c_cur, k, and the stay gain are all
      // recovered inside the per-vertex aggregation, so the round needs NO
      // per-vertex state join after the edge join (the r7 shape paid two
      // more broadcast builds per round for the same values).
      val cands = eWithC
        .select(col("run"), col(SRC).as(ID), col("nc"), col(WEIGHT).as("w_in"),
          col("k_src").as("k"), lit(0).as("is_self"))
        .unionByName(state.select(col("run"), col(ID),
          col("community").as("nc"), lit(0.0).as("w_in"),
          col("k"), lit(1).as("is_self")))
        .repartition(col("run"), col(ID))
        .groupBy(col("run"), col(ID), col("nc"))
        .agg(sum("w_in").as("w_in"), max("k").as("k"), max("is_self").as("is_self"))
      // candidate move gain (standard Louvain delta, constant terms dropped):
      //   gain(v→c) = w_in(v,c) − resolution · k_v · tot_c' / m2
      // where tot_c' excludes v itself when c is v's current community
      // (is_self = 1 marks exactly that group). The per-community totals
      // attach AFTER the aggregation, on the compacted per-(vertex,
      // community) rows — broadcast probe under the size gate, which
      // preserves the (run,id) partitioning; past the gate only the tot
      // side shuffles. k is a join-attached constant per group, so max()
      // reads it back exactly; w_in sums the identical row set the r7
      // shape summed (gated fixtures carry integer-valued weights —
      // reordered sums stay bit-exact). A whole-partition window fill here
      // instead was measured 3.6× slower at RMAT scale 20: it sorts the
      // full candidate stream every round.
      val scored = cands
        .join(graft.prims.Hint.state(tot, nState), Seq("run", "nc"))
        .select(col("run"), col(ID), col("nc"), col("is_self"), col("k"),
          (col("w_in") - lit(resolution) * col("k") *
            (when(col("is_self") === 1, col("tot") - col("k")).otherwise(col("tot"))) / m2Col).as("gain"))
      // per-vertex best move via hash-agg max_by (tie-break: max gain, then
      // min community id via negation) — rides the SAME (run,id)
      // partitioning, no exchange. The stay-at-home gain AND the current
      // community ride the same aggregation via the is_self group (scored
      // is consumed exactly once per round).
      val best = scored.groupBy(col("run"), col(ID))
        .agg(max_by(struct(col("nc"), col("gain")),
          struct(col("gain"), -col("nc"))).as("b"),
          max(when(col("is_self") === 1, col("gain"))).as("stay_gain"),
          max(when(col("is_self") === 1, col("nc"))).as("old"),
          max("k").as("k"))
      // move only on strict positive improvement over staying; every state
      // vertex appears in best (the self row guarantees its group), so
      // next-state derives from best alone — no state re-join
      val mayMove =
        if (parityMode && !probe) pmod(col(ID) + lit(it), lit(maskMod)) === 0
        else lit(true)
      // the moved count rides the materialization job itself — no separate
      // per-round count scan
      val (nextC, movedNow) = graft.prims.Iterate.materializeCount(
        best.select(col("run"), col(ID), col("old"),
            when(mayMove &&
                 col("b.gain") > coalesce(col("stay_gain"), lit(0.0)) + lit(1e-12), col("b.nc"))
              .otherwise(col("old")).as("community"),
            col("k")),
        sum(when(col("community") =!= col("old"), 1L).otherwise(0L)),
        _.filter(col("community") =!= col("old")).count())
      moved = movedNow
      // Past the broadcast gate each round still exchanges the candidate
      // stream (repartition + tot join) — tens of GB of shuffle files at
      // ensemble scale whose deletion waits on the ContextCleaner, which
      // waits on a driver GC. Long loops never idle the driver enough to
      // trigger one; nudge it every few rounds so scratch disk stays
      // bounded by a couple of rounds, not the whole run (the scale-22
      // probe died on disk exactly this way). Every 3rd round, not every
      // round (a full driver STW GC per round is avoidable latency):
      // long-loop deployments additionally set
      // spark.cleaner.periodicGC.interval (ScaleProbe pins 60s), which
      // bounds scratch continuously regardless of round cadence.
      if (nState > 5000000L && it % 3 == 0) System.gc()
      if (carryTot && moved > 0) {
        // movers' k leaves the old community and joins the new one; merge
        // the deltas into the carried totals (movers shrink per round, so
        // the exchange is movers+nComm rows instead of nState)
        val movers = nextC.filter(col("community") =!= col("old"))
        val delta = movers.select(col("run"), col("old").as("community"), (-col("k")).as("d"))
          .unionByName(movers.select(col("run"), col("community"), col("k").as("d")))
          .groupBy("run", "community").agg(sum("d").as("d"))
        val newTot = totState.join(delta, Seq("run", "community"), "full")
          .select(col("run"), col("community"),
            (coalesce(col("tot"), lit(0.0)) + coalesce(col("d"), lit(0.0))).as("tot"))
          .filter(col("tot") =!= 0.0)
          .mat
        graft.prims.Release.free(totState)
        totState = newTot
      }
      if (!parityMode) {
        if (moved == 0) zeroStreak = Int.MaxValue // free full round; done
        else parityMode = true // escalate after the opening mass-move round
        prevMoved = moved
      } else if (probe) {
        probe = false
        if (moved == 0) zeroStreak = Int.MaxValue // certified optimal
        else { maskMod *= 2; stall = 0; zeroStreak = 0 }
      } else {
        zeroStreak = if (moved == 0) zeroStreak + 1 else 0
        stall = if (moved == 0) 0 else stall + 1
        if (stall >= StallLimit) { maskMod *= 2; stall = 0; zeroStreak = 0 }
        // cheap certificate at escalated masks: two settled masked rounds
        // → one free probe round decides (plain parity keeps its exact
        // 2-zero-rounds exit, which gated oracles unroll)
        if (maskMod > 2 && zeroStreak >= 2) probe = true
      }
      // the round's reads of the old state all fed nextC's materialization —
      // free its blocks now instead of holding rounds × nState rows for the
      // rest of the composed run (prims.Release scaladoc)
      graft.prims.Release.free(state)
      state = nextC.select(col("run"), col(ID), col("community"), col("k"))
      }
    }
    }
    } finally {
      eNoSelfK.unpersist(false)
    }
    (state.select(col("run"), col(ID), col("community")), it, nState)
  }

  /** Co-clustering vote table of the batched ECG ensemble: `ensembleSize`
    * perturbed one-level Louvain runs in ONE run-keyed level
    * (oneLevelKeyed — R runs cost one set of per-round jobs, not R), then
    * votes = how many runs co-cluster each undirected edge's endpoints.
    *
    * The per-run perturbation is INTEGRAL: w · (10000 + md5-hash(edge,run)
    * % 1000) — a uniform 10000× scaling of the classic w · (1 + p/10000)
    * jitter, so the move structure is identical while every weight sum
    * stays an exact integer-valued double (< 2^53). That makes the whole
    * ensemble bit-reproducible across engines (the only inexact gain op
    * is a pointwise product/division of identical operands), which is what
    * lets q_ecg_votes gate this table EXACTLY in DuckDB. */
  def ecgVotes(g: PropertyGraph, ensembleSize: Int = 8, seed: Long = 42,
               maxIter: Int = 5): DataFrame = {
    val und = Structure.removeSelfLoops(
      Structure.symmetrize(g.weightedEdges.select(SRC, DST, WEIGHT), sumWeights = false))
      .mat
    // The explode below replicates every partition's rows ×ensembleSize IN
    // PLACE — partition count unchanged, rows/partition multiplied. At
    // scale 22 that put 4M-row partitions under the level's map-side
    // (run, src) hash agg, whose initial map allocation is unspillable and
    // lost the race against the edge-cache's storage claim (probe OOM,
    // stage 19). Slice the base frame by the POST-explode volume first —
    // same ~500k rows/task rule as the generator and ScaleProbe; the
    // gate-scale path (well under 1M rows/partition) is untouched.
    val nUnd = und.count()
    val afterPerPart =
      nUnd * ensembleSize / math.max(1, und.rdd.getNumPartitions)
    val undS = if (afterPerPart > 1000000L)
      und.repartition((nUnd * ensembleSize / 500000L + 1L).toInt)
    else und
    val undR = undS
      .select(explode(sequence(lit(0L), lit(ensembleSize - 1L))).as("run"),
        col(SRC), col(DST), col(WEIGHT))
      .select(col("run"), col(SRC), col(DST),
        (col(WEIGHT) * (lit(10000L) + pmod(graft.pipeline.TextOps.hash60(
          concat_ws("|", lit("ecg"), col(SRC), col(DST), lit(seed) + col("run"))),
          lit(1000)))).as(WEIGHT))
    val labels = oneLevelKeyed(undR, maxIter, resolution = 1.0)._1.mat
    // co-clustering votes per edge: one pass over (run × edges) — read
    // from the sliced frame for the same post-explode reason as above.
    // Materialized HERE so the ensemble's label table and base frame (the
    // two largest phase outputs of the whole ECG pipeline) can be freed as
    // soon as they are consumed, instead of riding to the end of the
    // composed run (prims.Release scaladoc).
    val votes = undS.select(SRC, DST)
      .select(explode(sequence(lit(0L), lit(ensembleSize - 1L))).as("run"), col(SRC), col(DST))
      .join(labels.select(col("run"), col(ID).as(SRC), col("community").as("ca")), Seq("run", SRC))
      .join(labels.select(col("run"), col(ID).as(DST), col("community").as("cb")), Seq("run", DST))
      .groupBy(SRC, DST)
      .agg(sum(when(col("ca") === col("cb"), 1.0).otherwise(0.0)).as("votes"))
      .mat
    graft.prims.Release.free(labels, und)
    votes
  }

  /** Vote→weight reweighting in INTEGRAL units: the classic ECG formula
    * minWeight + (1−minWeight)·votes/E, uniformly scaled by 1000·E with
    * each coefficient rounded once — Louvain's gain ordering is invariant
    * under uniform weight scaling (gain scales by the same constant), so
    * the clustering decisions are those of the float formula up to the
    * ≤0.05% coefficient rounding, while every weight sum stays an exact
    * integer-valued double. That is what lets the FULL ecg pipeline gate
    * exactly in DuckDB (the float form's accumulation-order-dependent
    * sums cannot). */
  def ecgReweight(votes: DataFrame, ensembleSize: Int,
                  minWeight: Double = 0.05): DataFrame = {
    val cMin = math.round(1000.0 * minWeight * ensembleSize)
    val cVote = math.round(1000.0 * (1.0 - minWeight))
    votes.select(col(SRC), col(DST),
      (lit(cMin) + lit(cVote) * col("votes")).cast("double").as(WEIGHT))
  }

  /** ECG (ensemble clustering): k randomized one-level Louvain runs re-weight
    * edges by co-clustering frequency, then a final Louvain
    * (reference `community/ecg.py:10`). Randomization: seeded per-run edge
    * weight perturbation (see [[ecgVotes]]); the vote reweighting uses the
    * integral-units form ([[ecgReweight]] — scale-invariant, exact-gateable). */
  def ecg(g: PropertyGraph, ensembleSize: Int = 8, minWeight: Double = 0.05,
          seed: Long = 42, finalMaxLevel: Int = 2): (DataFrame, Double) = {
    // reweighted inherits the vote table's symmetry (votes are per
    // direction of the symmetrized ensemble edges) and has no self-loops,
    // so the final pass takes it as a prepared base — no re-symmetrize
    val votes = ecgVotes(g, ensembleSize, seed)
    val reweighted = ecgReweight(votes, ensembleSize, minWeight).mat
    graft.prims.Release.free(votes)
    // bounded final pass: the ensemble already did the exploration
    val (f, q, _) = louvainPrepared(reweighted, maxLevel = finalMaxLevel, maxIter = 8)
    graft.prims.Release.free(reweighted)
    (f, q)
  }

  /** Leiden = Louvain + a refinement pass constraining communities to be
    * internally connected (reference `community/leiden_impl.cuh`,
    * `detail/refine_impl.cuh`). Refinement here: split each community into
    * its weakly-connected pieces — guarantees the Leiden connectivity
    * invariant that plain Louvain lacks. */
  def leiden(g: PropertyGraph, maxLevel: Int = 10, resolution: Double = 1.0,
             maxIter: Int = 10): (DataFrame, Double) = {
    // move-phase rounds past ~10 shuffle <6% of vertices between
    // near-equal-gain communities with no measurable modularity change —
    // the refinement pass below is what guarantees Leiden's invariant.
    //
    // ONE prepared symmetric self-loop-free base is shared by all three
    // phases (Louvain, refinement, final modularity): the previous shape
    // re-symmetrized g.edges into a second full-size materialized copy for
    // the refinement, and WCC re-symmetrized the (already symmetric) intra
    // set into a third — at scale 22 those dead copies were the composed
    // operator's storage footprint (the r10 48g-heap finding; the r11 32g
    // probe OOM'd in exactly that refine-phase storage).
    val base = Structure.removeSelfLoops(
      Structure.symmetrize(g.weightedEdges.select(SRC, DST, WEIGHT), sumWeights = false))
      .mat
    val (labels, _, _) =
      louvainPrepared(base, maxLevel, maxIter = maxIter, resolution = resolution)
    // materialize the refinement output before freeing the Louvain phase:
    // the WCC star path's label frame is lazy over the input vertex list,
    // which here IS the Louvain label table (prims.Release scaladoc)
    val refined = leidenRefinePrepared(base.select(SRC, DST), labels, "louvain")._1.mat
    graft.prims.Release.free(labels)
    val q = modularity(base, refined, resolution)
    graft.prims.Release.free(base)
    (refined, q)
  }

  /** The Leiden refinement pass in isolation: split every community into
    * its weakly connected pieces (reference `detail/refine_impl.cuh` —
    * the connectivity invariant plain Louvain lacks). Deterministic given
    * the input labels: intra-community edge filter (2 joins) + min-label
    * WCC, so it is EXACT-gateable by unrolling the same propagation in
    * SQL (q_leiden_refine). Returns (labels(id, leiden), wccRounds) — the
    * round count lets the gate assert convergence within the oracle's
    * unrolled budget. */
  def leidenRefine(g: PropertyGraph, labels: DataFrame,
                   labelCol: String): (DataFrame, Int) = {
    val und = Structure.symmetrize(g.edges.select(SRC, DST)).mat
    val r = leidenRefinePrepared(und, labels, labelCol)
    // the WCC phase materialized its own copy of the intra-community edge
    // set; this symmetrized frame is dead (caller-owned `labels` is NOT
    // freed here — q_leiden_refine calls this entry directly)
    graft.prims.Release.free(und)
    r
  }

  /** [[leidenRefine]] on an ALREADY-symmetric edge list (both directions
    * present — e.g. the prepared Louvain base): skips the symmetrize
    * shuffle AND tells the WCC the intra set is symmetric by construction
    * (community labels are per-vertex, so the ca=cb filter of a symmetric
    * set is symmetric). Self-loops are irrelevant to the refinement — a
    * self edge never changes connectivity. */
  def leidenRefinePrepared(und: DataFrame, labels: DataFrame,
                           labelCol: String): (DataFrame, Int) = {
    val intra = und
      .join(labels.select(col(ID).as(SRC), col(labelCol).as("ca")), SRC)
      .join(labels.select(col(ID).as(DST), col(labelCol).as("cb")), DST)
      .filter(col("ca") === col("cb")).select(SRC, DST)
    val sub = PropertyGraph(labels.select(ID), intra,
      graft.core.GraphProperties(directed = false))
    val (refined, rounds) = Components.wccWithRounds(sub, assumeSymmetric = true)
    (refined.withColumnRenamed("component", "leiden"), rounds)
  }

  /** Edge cut of a partition: total weight of edges crossing clusters
    * (reference `analyzeClustering_edge_cut`, `algorithms.hpp:300`). */
  def edgeCut(g: PropertyGraph, labels: DataFrame): Double = {
    val und = Structure.symmetrize(g.weightedEdges.select(SRC, DST, WEIGHT), sumWeights = false)
    val l = labels.select(col(labels.columns(0)).as(ID), col(labels.columns(1)).as("c"))
    und.join(l.select(col(ID).as(SRC), col("c").as("ca")), SRC)
      .join(l.select(col(ID).as(DST), col("c").as("cb")), DST)
      .filter(col("ca") =!= col("cb"))
      .agg(coalesce(sum(WEIGHT), lit(0.0))).first().getDouble(0) / 2.0
  }

  /** Ratio cut: Σ_c cut(c) / |c| (reference `algorithms.hpp:384`). */
  def ratioCut(g: PropertyGraph, labels: DataFrame): Double = {
    val und = Structure.symmetrize(g.weightedEdges.select(SRC, DST, WEIGHT), sumWeights = false)
    val l = labels.select(col(labels.columns(0)).as(ID), col(labels.columns(1)).as("c"))
    val sizes = l.groupBy("c").agg(count(lit(1)).as("n"))
    val cuts = und.join(l.select(col(ID).as(SRC), col("c").as("ca")), SRC)
      .join(l.select(col(ID).as(DST), col("c").as("cb")), DST)
      .filter(col("ca") =!= col("cb"))
      .groupBy(col("ca").as("c")).agg((sum(WEIGHT) / 2.0).as("cut"))
    sizes.join(cuts, Seq("c"), "left")
      .select((coalesce(col("cut"), lit(0.0)) / col("n")).as("rc"))
      .agg(sum("rc")).first().getDouble(0)
  }
}
