"""Canonicalization: iterative connected components over alias pairs.

The reference's merge is single-pass, 1-hop (group by normalized title,
/root/reference/src/output/post_processor.py:102-130). Alias similarity is
transitive only through chains (`get_user_data` ~ `getuserdata` ~
`get_user_data_v2`), so the KG target requires true connected components
(BASELINE.json north_star).

Implemented as driver-looped min-label propagation: each round is one
propagation hop, one shuffle-join job. Materialization follows the
repo-wide policy (materialize.py): every round's label table is an *eager serialized
persist*, and the previous round's table is explicitly released right
after the convergence count — the textbook iterative-Spark pattern. At
10^12-vertex scale the per-round label tables are the largest objects in
the job; localCheckpoint (the round-2 form) leaked every round's table
until GC because clearCache() does not release checkpoint RDDs.
Lineage is cut by a parquet round-trip every ``LINEAGE_CUT_EVERY``
rounds (persist alone does not truncate the logical plan — unbounded
lineage is the classic iterative-Spark failure mode, SURVEY.md §7); the
cut is crash-safe reliable storage, which is what a real cluster wants
anyway. Convergence is detected with a cheap changed-count aggregate and
the loop is bounded by ``MAX_ROUNDS`` with an assert — alias clusters
are shallow (diameter ~2-4), so this converges in a handful of rounds
even at 10^12 scale and the cut rarely fires. Deep graphs (near-dup
chains) take fewer rounds through partition-local contraction
(``contract_edges_locally``).

Skew: a Zipf-headed alias graph has hub vertices whose full edge list
hashes to ONE reducer in each round's plain equi-join (AQE's skew-split
only kicks in for sort-merge joins after the hot partition has already
been built). The hot/cold split below routes hub vertices through
skew.salted_join semantics — their edges carry a deterministic salt from
the *other* endpoint, the (tiny) hub label rows are replicated per salt
bucket, and no reducer ever receives more than ~degree/salt_buckets rows
of any key. The degree census is computed once (edges are loop-invariant)
and both halves are materialized eagerly so every round reuses them.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.config import CanonicalizeConfig
from corporate_knowledge_extractor_spark.materialize import materialize, release
from corporate_knowledge_extractor_spark.operators.skew import add_salt, explode_salt

# CC fixpoint bound (SURVEY.md §7 risk), one hop per round: a component
# of diameter d converges in d + 1 rounds
MAX_ROUNDS = 40
# rounds between parquet cuts of the label lineage. A round references
# the incoming labels in the cold join and the union, and again in the
# hot semi-join when there is a hot split, so the plan grows 2x or 3x
# per round; persist caches blocks, not plans, so only the cut bounds
# re-analysis. 2^6 and 3^4 both keep it under ~100 copies (3^6 with a
# hot split ran the 8 GB driver heap out in plan-string generation).
LINEAGE_CUT_EVERY = 6
LINEAGE_CUT_EVERY_HOT = 4


def contract_edges_locally(
    edges: DataFrame,  # (id_a, id_b)
    num_partitions: int | None = None,
) -> DataFrame:
    """Partition-local union-find contraction: collapse each partition's
    edges to a spanning forest (member -> local min root) BEFORE the
    iterative global phase.

    This is the standard big-graph CC preprocessing (the map-side
    combine of connected components): a partition with E edges over V
    distinct endpoints emits at most V-1 forest edges, and — the part
    that matters for the deep-graph regime — any path that lies inside
    one partition contracts to depth 1, so the GLOBAL graph's diameter
    drops to roughly the number of partitions a component spans. The
    driver-sequenced round count of the iterative phase (its measured
    cost floor, BENCH/cc_diagnose_r05.json) is diameter-bound, so at
    10^12-edge scale this turns O(component diameter) rounds over the
    full edge set into O(partitions spanned) rounds over a forest.

    Connectivity is exactly preserved (each partition's forest connects
    precisely the vertices its edges connected); the global phase
    re-derives true component minima, so labels are identical to
    running on the raw edges — asserted in tests/test_materialize.py.

    Edges are range-partitioned by ``id_a`` first: real corpora write
    near-sorted ids (parquet row-group locality), so range partitioning
    maximizes the chance both endpoints land together. Any partitioning
    is CORRECT; a bad one just contracts less.
    """
    import pandas as pd

    if num_partitions is None:
        sess = edges.sparkSession
        num_partitions = int(sess.conf.get("spark.sql.shuffle.partitions"))
    ranged = edges.repartitionByRange(num_partitions, "id_a")

    def _uf(batches):
        # ONE union-find across every Arrow batch of the partition
        # (mapInPandas splits a partition into ~10k-row batches; a
        # per-batch forest would still be correct but contracts less)
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["id_a"].values, pdf["id_b"].values):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by min keeps roots deterministic per partition
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        if parent:
            members = list(parent)
            roots = [find(m) for m in members]
            out = pd.DataFrame({"id_a": roots, "id_b": members})
            yield out[out.id_a != out.id_b]

    return ranged.mapInPandas(_uf, schema=edges.select("id_a", "id_b").schema)


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected (id_a, id_b) edges -> distinct directed (src, dst) rows,
    both directions of every edge. One explode over a two-element array
    reads ``edges`` once; a union of the two projections read it twice,
    so an unmaterialized upstream (the local contraction's mapInPandas
    union-find) ran twice."""
    both = F.array(
        F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
    )
    return (
        edges.select(F.explode(both).alias("_e")).select("_e.src", "_e.dst").distinct()
    )


def _neighbor_labels(sym_cold, sym_hot, labels, hot_keys, buckets: int) -> DataFrame:
    """One propagation round: candidate label for dst = label of each
    neighbor src — cold keys via plain equi-join, hot keys via the salted
    path (skew.salted_join shape, inlined because the dim side must be
    filtered to hot labels first)."""
    cold = sym_cold.join(labels, sym_cold.src == labels.entity_id, "inner").select(
        F.col("dst").alias("entity_id"), F.col("component")
    )
    if sym_hot is None:
        return cold
    labels_hot = explode_salt(
        labels.join(hot_keys, labels.entity_id == hot_keys.src, "left_semi"),
        buckets,
    )
    hot = (
        sym_hot.alias("e")
        .join(
            labels_hot.alias("l"),
            (F.col("e.src") == F.col("l.entity_id"))
            & (F.col("e._salt") == F.col("l._salt")),
            "inner",
        )
        .select(F.col("e.dst").alias("entity_id"), F.col("l.component"))
    )
    return cold.unionByName(hot)


def connected_components(
    vertices: DataFrame,  # (entity_id)
    edges: DataFrame,  # (id_a, id_b) undirected
    cfg: CanonicalizeConfig = CanonicalizeConfig(),
    on_iteration=None,
    on_skew_stats=None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Returns (entity_id, component) with component = min entity_id of the
    component. ``on_iteration(i, changed)`` is the metrics hook — the
    pipeline records one convergence metric row per round (north_rule).

    Storage contract: every intermediate (symmetrized edges, hot/cold
    halves, each superseded round's labels) is released before return;
    only the *returned* label table is left persisted, and the
    materialize.py release contract frees it: the enclosing
    `release_scope()` when it exits (the staged pipeline's components
    stage), else ``result.unpersist()`` / ``spark.catalog.clearCache()``
    — asserted by tests/test_materialize.py and tests/test_pipeline.py.

    Plan contract: the label recurrence references the previous labels
    twice per round (union + join; three times with a hot split), so the
    logical plan DOUBLES per iteration — with a lazy upstream chain (the kg extraction DAG) the
    exponential re-analysis OOMs the *driver* within a handful of rounds
    (persist caches blocks, not plans; localCheckpoint hid this in round
    2 at the price of leaked RDDs). Both inputs are therefore cut to
    parquet scans in ``scratch_dir`` once at entry — at 10^12 scale the
    edge/vertex tables live on storage anyway — and the label lineage is
    re-cut through parquet every ``LINEAGE_CUT_EVERY`` rounds
    (``LINEAGE_CUT_EVERY_HOT`` with a hot split; the GraphX/GraphFrames
    checkpointInterval pattern, reliable + crash-safe) so deep graphs
    stay bounded too.

    Scratch lifecycle: at convergence the labels are consolidated into
    ``scratch/labels_final``, one unpartitioned parquet table and the
    returned frame's only on-disk dependency (no reader filters it by
    component: id-keyed lookups prune the bucketed ``nodes``/``edges``
    outputs instead), and every other scratch table (sym, labels0, round
    cuts) is deleted immediately; when no ``scratch_dir`` was supplied the
    remaining dir is also removed at interpreter exit. Callers that pass
    a ``scratch_dir`` own labels_final's lifetime (delete it once the
    returned frame is released or written out; the staged pipeline
    removes its per-stage ``tmp`` dir after each stage write).

    ``on_skew_stats({"max_join_key_rows", "hot_keys", "edges"})``
    (optional; an extra aggregate job plus the symmetric edge count,
    which nothing else needs) records the worst per-join-key
    reducer load *after* the hot/cold split — the skew evidence. The
    census is loop-invariant (edges never change across rounds), so it is
    measured once, not per round; a per-partition row count would be
    confounded by AQE's small-partition coalescing, which merges cold
    partitions without creating any hot one."""
    import atexit
    import os
    import shutil
    import tempfile

    spark = vertices.sparkSession
    if scratch_dir is None:
        # caller gave no scratch home: own the cleanup. The dir cannot be
        # deleted eagerly (the returned labels' recompute lineage reads
        # labels_final below), so everything except labels_final is
        # scrubbed at convergence and the rest goes at interpreter exit —
        # repeated runs in a long-lived session leave one small (V x 2
        # cols) parquet each, never the O(E) sym/per-round tables.
        scratch = tempfile.mkdtemp(prefix="ckg_cc_").rstrip("/")
        atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    else:
        # a RUN-UNIQUE subdirectory under the caller's dir (ADVICE r04):
        # the scrub below only ever touches this run's own tables, so a
        # second run with the same scratch_dir cannot delete a previous
        # run's labels_final while its returned frame's recompute lineage
        # might still read it, and pointing scratch_dir at a non-dedicated
        # directory no longer destroys unrelated entries. Each run leaves
        # one small <scratch_dir>/run_*/labels_final; the caller owns the
        # parent dir's lifetime.
        os.makedirs(scratch_dir, exist_ok=True)
        scratch = tempfile.mkdtemp(prefix="run_", dir=scratch_dir).rstrip("/")

    def _scrub_scratch(keep: str | None) -> None:
        for name in os.listdir(scratch):
            if name != keep:
                shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)

    def _cut(df: DataFrame, name: str) -> DataFrame:
        """Reliable lineage cut: parquet round-trip — the re-read plan is
        a single scan, so per-round plan growth multiplies tiny trees."""
        path = f"{scratch}/{name}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    if cfg.local_contract:
        # contract BEFORE the symmetrize cut so the forest (not the raw
        # edge list) is what lands in scratch and feeds every round
        edges = contract_edges_locally(edges)
    sym = materialize(_cut(_symmetrize(edges), "sym"))

    # static hot/cold split on src degree (the join key's fan-out); edges
    # never change across rounds, so the census and both halves are
    # computed exactly once
    degrees = sym.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    # lazy persist whose one count both fills the cache and sizes the
    # split (materialize() would count it a second time)
    hot_keys = (
        degrees.where(F.col("_deg") >= cfg.hot_degree_threshold)
        .select("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_hot = hot_keys.count()
    if n_hot == 0:
        sym_cold, sym_hot = sym, None
        release(hot_keys)
        hot_keys = None
    else:
        sym_cold = materialize(sym.join(hot_keys, "src", "left_anti"))
        # salt from dst: uniform across a hub's edges (each edge has a
        # different far endpoint), deterministic (no rand())
        sym_hot = materialize(
            add_salt(sym.join(hot_keys, "src", "left_semi"), ["dst"], cfg.salt_buckets)
        )

    if on_skew_stats is not None:
        cold_loads = sym_cold.groupBy("src").agg(F.count(F.lit(1)).alias("_n"))
        loads = cold_loads
        if sym_hot is not None:
            hot_loads = sym_hot.groupBy("src", "_salt").agg(
                F.count(F.lit(1)).alias("_n")
            )
            loads = cold_loads.select("_n").unionByName(hot_loads.select("_n"))
        mx = loads.agg(F.max("_n")).first()[0] or 0
        on_skew_stats(
            {
                "max_join_key_rows": int(mx),
                "hot_keys": int(n_hot),
                "edges": sym.count(),
            }
        )
    if sym_cold is not sym:
        # both halves are materialized; the full table is no longer scanned
        release(sym)

    labels = materialize(
        _cut(
            vertices.select(F.col("entity_id"), F.col("entity_id").alias("component")),
            "labels0",
        )
    )

    def _cleanup() -> None:
        release(sym_hot, hot_keys)
        release(sym_cold)  # == sym when there was no hot split

    from pyspark.sql import Observation

    cut_every = LINEAGE_CUT_EVERY if sym_hot is None else LINEAGE_CUT_EVERY_HOT
    for i in range(MAX_ROUNDS):
        # One propagation hop per round. Convergence is FUSED into the
        # propagation aggregate: the old label rides the union as `_old`
        # (each entity has exactly one labels row, so min(_old) recovers
        # it), and the changed count is an `observe` metric collected by
        # the same action that populates the persist — one job per round,
        # no labels-vs-new_labels join (the join was a whole extra
        # shuffle+sort per round; at tiny per-round data the job/stage
        # *count* is the cost that made the components stage anti-scale
        # with executor count, round-3 stage-scaling evidence).
        # The persist stays lazy, NOT materialize(): the count below is
        # the sole immediate consumer and populates every partition
        # itself; the eager rule exists for CONCURRENT first consumers.
        obs = Observation()
        comp_type = dict(labels.dtypes)["component"]
        cur = labels.withColumn("_old", F.col("component"))
        nbr = _neighbor_labels(sym_cold, sym_hot, cur, hot_keys, cfg.salt_buckets)
        new_labels = (
            cur.unionByName(nbr.withColumn("_old", F.lit(None).cast(comp_type)))
            .groupBy("entity_id")
            .agg(F.min("component").alias("component"), F.min("_old").alias("_old"))
            .observe(
                obs,
                F.sum(
                    (F.col("component") != F.col("_old")).cast("long")
                ).alias("changed"),
            )
            .select("entity_id", "component")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        new_labels.count()
        changed = int(obs.get["changed"] or 0)
        # new_labels is fully materialized, so the previous round's table
        # can be freed NOW — per-iteration, not end-of-job; this is the
        # bound that keeps a long-lived session flat at 10^12 scale
        release(labels)
        labels = new_labels
        if on_iteration is not None:
            on_iteration(i, changed)
        if changed == 0:
            _cleanup()
            # consolidate: cut the converged labels to ONE parquet table
            # (the durable output form a real cluster wants anyway) so
            # the sym/labels0/labels_cut_* scratch that the persisted
            # labels' recompute lineage pointed at can be deleted NOW —
            # the unbounded temp-disk growth across repeated runs goes
            # away, bounded by the single small labels_final per run
            final = materialize(_cut(labels, "labels_final"))
            release(labels)
            _scrub_scratch(keep="labels_final")
            return final
        if (i + 1) % cut_every == 0:
            # deep graph: re-cut the doubling label lineage so analysis
            # cost and recompute chains stay bounded (see plan contract)
            cut = _cut(labels, f"labels_cut_{i + 1}")
            release(labels)
            labels = materialize(cut)
    _cleanup()
    release(labels)
    _scrub_scratch(keep=None)
    raise AssertionError(
        f"connected_components did not converge in {MAX_ROUNDS} rounds"
    )


# canonical-id range buckets for the OUTPUT graph tables (nodes, edges):
# downstream graph queries are id-keyed ("edges into this
# canonical entity", "this entity's node row"), and at 100 TB an
# unpartitioned edges table forces a full scan per lookup. pmod of the
# 64-bit id is a uniform range bucket; 16 dirs is sandbox-sized (a real
# deployment raises it with corpus size — partition evolution is free
# under the Iceberg seam in sources/sinks.py). Readers that filter on a
# canonical id get partition pruning via cid_bucket() —
# plans.pipeline.read_edges_for_canonical / read_nodes_for_canonical;
# pruning is CI-pinned in tests/test_plans.py.
GRAPH_BUCKETS = 16


def cid_bucket(col: F.Column) -> F.Column:
    return F.pmod(col, F.lit(GRAPH_BUCKETS))


def build_nodes(entities: DataFrame, components: DataFrame) -> DataFrame:
    """Nodes table (FIXTURES.md §2): one row per canonical entity.

    Canonical surface = most frequent alias, ties to lexicographically
    smallest — the deterministic analogue of the reference's "first frame
    as base" + longest-field merge (post_processor.py:133-175).
    ``merged_from`` records the absorbed alias ids exactly as the
    reference records merged frame ids (post_processor.py:172-173).
    """
    e = entities.join(components, "entity_id")
    # min over (-freq, surface): highest frequency, then smallest surface
    canonical_key = F.struct((-F.col("freq")).alias("nf"), F.col("surface").alias("s"))
    return e.groupBy(F.col("component").alias("canonical_id")).agg(
        F.min_by("surface", canonical_key).alias("canonical"),
        F.array_sort(F.collect_set("surface")).alias("aliases"),
        F.array_sort(F.collect_set("entity_id")).alias("merged_from"),
        F.sum("freq").alias("total_freq"),
        F.count(F.lit(1)).alias("n_aliases"),
    ).withColumn("_cid_bucket", cid_bucket(F.col("canonical_id")))


def canonical_map(entities: DataFrame, components: DataFrame) -> DataFrame:
    """(surface -> canonical_id, canonical surface) lookup for edge rewrite."""
    e = entities.join(components, "entity_id")
    canonical_key = F.struct((-F.col("freq")).alias("nf"), F.col("surface").alias("s"))
    canon = e.groupBy("component").agg(F.min_by("surface", canonical_key).alias("_c"))
    return (
        e.join(canon, "component")
        .select(
            "surface",
            F.col("component").alias("canonical_id"),
            F.col("_c").alias("canonical"),
        )
    )
