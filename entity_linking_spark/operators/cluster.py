"""Transitive closure: connected components on an edge list.

Two paths, chosen per call by the size of the materialized edge set:

- **Driver solve** (ids of at most ``_LOCAL_MAX_BYTES``, 32 MB: 2M
  int64 edges, or ~250k edges of 65-byte urls): the edges are collected
  once as Arrow, factorised in Spark's id order and solved in numpy by
  min-root hooking with pointer jumping. The distributed rounds are
  mostly per-job and per-probe overhead at these sizes: at ``local[4]``
  a 3,316-edge chain graph spent 85 of its linkage run's 116 Spark jobs
  and ~9.5 s in them, and a 2M-edge graph of 300-node chains took ~60 s
  there against ~7 s here. The driver solve is two jobs (edge snapshot +
  one Arrow collect), with the same schema and the same ``component =
  min node id`` contract.
- **Distributed** (above the gate): large-star / small-star alternation
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SOCC'14 — public algorithm), implemented as iterated DataFrame
  self-joins with per-iteration ``localCheckpoint`` to truncate lineage.
  Converges in O(log² n) rounds; each round is two shuffle-keyed
  aggregations.

Reference analog: the per-document one-round max-product message passing
(``/root/reference/src/max_product.py:60-82``) enforces cross-mention
consistency; at web scale the same role — making linkage decisions
transitively consistent — is played by connected components over the
above-threshold edge set (SURVEY.md §3.3).

Node ids are int64 (or ``struct<h1, h2>`` of int64 from ``id_bits=128``).
String ids (urls) work too, but are better mapped through ``md5hash64``
or a dictionary first: they make every distributed round's shuffle wider.
Ids of other types always take the distributed path.
"""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegralType,
    StringType,
    StructField,
    StructType,
)

# Largest edge set solved on the driver, in bytes of its ids there
# (``_edge_bytes``: 16 per int64 edge, the UTF-8 bytes of a url edge).
# 32 MB is 2M int64 edges, the largest int64 size measured end to end.
# Read from parquet, solved and joined back onto the pages at local[4],
# the driver solve beat the star rounds 4-18x at every size measured
# (3k-2M int64 edges, 250k-1M url edges), so this bounds driver memory
# and the collect (spark.driver.maxResultSize), not a speed crossover.
_LOCAL_MAX_BYTES = 32_000_000


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to the min of
    N(u) ∪ {u}."""
    bidir = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nbr_min = bidir.groupBy("src").agg(F.min("dst").alias("min_nbr"))
    m = bidir.join(nbr_min, "src").select(
        "src",
        "dst",
        F.least(F.col("src"), F.col("min_nbr")).alias("m"),
    )
    return (
        m.where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high→low; for each node u connect all of its ≤ neighbors
    (and u) to the minimum neighbor."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    nbr_min = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    joined = oriented.join(nbr_min, "src")
    out = joined.select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    ).union(joined.select(F.col("src"), F.col("m").alias("dst")))
    return out.where(F.col("src") != F.col("dst")).distinct()


def _driver_solvable(dtype) -> bool:
    """Ids the driver orders exactly as Spark does: integers, binary-
    collated strings (byte order), or structs of integers (lexicographic
    over signed fields)."""
    if isinstance(dtype, StructType):
        return all(isinstance(f.dataType, IntegralType) for f in dtype.fields)
    return isinstance(dtype, IntegralType) or dtype == StringType()


def _edge_bytes(dtype) -> Column:
    """Bytes of one edge's two ids on the driver: 8 per integer field,
    the UTF-8 length of a string."""
    if isinstance(dtype, StructType):
        return F.lit(16 * len(dtype.fields))
    if isinstance(dtype, IntegralType):
        return F.lit(16)
    return F.octet_length("src") + F.octet_length("dst")


def _factorize(ids: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """→ (the distinct ids in Spark's order, each id's index among them).

    Arrow sorts as Spark does (signed integers, strings by bytes, structs
    field by field), so the least dense index of a component is its min
    id.
    """
    fields = ids.flatten() if pa.types.is_struct(ids.type) else [ids]
    keys = pa.table({str(i): f for i, f in enumerate(fields)})
    order = pc.sort_indices(
        keys, sort_keys=[(name, "ascending") for name in keys.column_names]
    ).to_numpy()
    # a sorted row starts a new distinct id where any field changes
    starts = np.zeros(len(order), dtype=bool)
    starts[0] = True
    for col in keys.take(order).columns:
        col = col.combine_chunks()
        starts[1:] |= pc.not_equal(col[1:], col[:-1]).to_numpy(
            zero_copy_only=False
        )
    dense = np.empty(len(order), dtype=np.int64)
    dense[order] = np.cumsum(starts) - 1
    return ids.take(pa.array(order[starts])), dense


def _min_roots(u: np.ndarray, v: np.ndarray, n_nodes: int) -> np.ndarray:
    """→ for every dense node index, the least index in its component.

    Hooks each root onto the least root across its live edges, then
    jumps pointers until every node points at its root. ``parent[x] <= x``
    throughout, so the last root standing is the component's minimum.
    Every unfinished component merges with another in each round, so
    there are O(log n) rounds.
    """
    parent = np.arange(n_nodes)
    while True:
        ru, rv = parent[u], parent[v]
        live = ru != rv
        if not live.any():
            return parent
        u, v = ru[live], rv[live]
        low = np.minimum(u, v)
        np.minimum.at(parent, u, low)
        np.minimum.at(parent, v, low)
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _solve_on_driver(raw: DataFrame) -> DataFrame:
    """Connected components of a small materialized edge set, on the
    driver. Self-loop-only nodes stay singletons, as on the distributed
    path."""
    dtype = raw.schema["src"].dataType
    schema = StructType(
        [StructField("node", dtype), StructField("component", dtype)]
    )
    spark = raw.sparkSession
    tbl = raw.toArrow()
    # split at the rows actually collected, not at the observed count
    n = tbl.num_rows
    if n == 0:
        return spark.createDataFrame([], schema)
    node, dense = _factorize(
        pa.concat_arrays(
            [tbl.column(c).combine_chunks() for c in ("src", "dst")]
        )
    )
    roots = _min_roots(dense[:n], dense[n:], len(node))
    out = pa.table({"node": node, "component": node.take(pa.array(roots))})
    return spark.createDataFrame(out, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    fuse_rounds: int = 2,
) -> DataFrame:
    """→ (node, component) where component = min node id in the component.

    Convergence: the star-contraction fixpoint — iterate until the edge set
    is unchanged (checked via count + sum-of-hashes). ``fuse_rounds``
    combined large∘small rounds run per materialization and fixpoint
    probe (default 2): this divides both the lineage-truncation barriers
    and the driver round-trips by the fuse factor (the flagship's
    measured sf0.1 floor was ~42% driver-bound), at the cost of at most
    ``fuse_rounds − 1`` redundant rounds after the true fixpoint — cheap,
    because star rounds are idempotent on a converged star forest.
    Measured guidance: fusion clearly wins on multi-core executors
    (same-hour cold flagship 43.0s → 28.5s at local[32]); on 1-core /
    small-heap executors the wider in-flight job showed no benefit in
    noisy measurements — set ``fuse_rounds=1`` there to recover the
    round-3 per-round behavior.

    ``checkpoint_dir``: by default rounds truncate lineage with
    ``localCheckpoint`` (executor-local blocks — fastest, but a lost
    executor on a preemptible cluster kills the computation). Pass a
    reliable-storage path (HDFS/S3/DBFS) to use ``checkpoint`` with
    ``spark.sparkContext.setCheckpointDir`` instead: each round's edge set
    is persisted to the shared filesystem and survives executor loss.
    Superseded round checkpoints are deleted as soon as the next probe's
    edge set is on disk (shared storage holds ~2 edge-set copies, not
    O(rounds)), and a caller-set checkpoint dir is restored on exit.

    Edge sets whose ids take at most ``_LOCAL_MAX_BYTES`` are solved on
    the driver instead (module docstring); ``max_iter``, ``checkpoint_dir``
    and ``fuse_rounds`` only shape the distributed rounds above that gate.
    Jobs carry the path taken as their description (``cc: driver solve
    (<n> edges)`` or ``cc: star probe <k>``); the caller's description
    is restored on exit.
    """
    sc = edges.sparkSession.sparkContext
    prior_desc = sc.getLocalProperty("spark.job.description")
    prior_ckpt_dir = None
    if checkpoint_dir is not None:
        # don't clobber a caller-set checkpoint dir for the rest of the
        # session (setCheckpointDir mutates global SparkContext state —
        # round-4 advice): remember it and restore on the way out
        try:
            opt = sc._jsc.sc().getCheckpointDir()
            prior_ckpt_dir = opt.get() if opt.isDefined() else None
        except Exception:  # pragma: no cover - py4j surface drift
            prior_ckpt_dir = None
        sc.setCheckpointDir(checkpoint_dir)
    try:
        return _components(
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
            max_iter,
            checkpoint_dir,
            fuse_rounds,
        )
    finally:
        sc.setJobDescription(prior_desc)
        if checkpoint_dir is not None:
            # all checkpoint WRITES are done (the lazy result only READS
            # the final edge set + raw); hand the global setting back
            try:
                sc.setCheckpointDir(prior_ckpt_dir)
            except Exception:  # pragma: no cover - py4j null handling drift
                pass


def _components(
    edges: DataFrame,
    max_iter: int,
    checkpoint_dir: str | None,
    fuse_rounds: int,
) -> DataFrame:
    """``connected_components`` of a (src, dst) frame, with the checkpoint
    dir already set; picks the driver or the distributed path."""
    spark = edges.sparkSession

    def _ckpt(df: DataFrame, eager: bool) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    def _ckpt_file(df: DataFrame) -> str | None:
        """Reliable-checkpoint path of a materialized checkpointed frame."""
        try:
            opt = (
                df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
            )
            return opt.get() if opt.isDefined() else None
        except Exception:  # pragma: no cover - py4j surface drift
            return None

    def _delete_superseded(dfs: list[DataFrame]) -> None:
        """Best-effort delete of no-longer-referenced round checkpoints.

        Without this a long run accumulates O(rounds) full copies of the
        edge set in shared storage (spark.cleaner.referenceTracking.
        cleanCheckpoints defaults to false and relies on driver GC even
        when enabled — round-4 advice). Only frames whose consumers have
        already materialized are passed in. On the distributed path
        ``raw`` and the final edge set are never superseded (the caller's
        lazy result reads them); the driver solve's result reads neither.
        """
        if checkpoint_dir is None:
            return
        for df in dfs:
            path = _ckpt_file(df)
            if not path:
                continue
            try:
                jvm = spark.sparkContext._jvm
                hpath = jvm.org.apache.hadoop.fs.Path(path)
                fs = hpath.getFileSystem(
                    spark.sparkContext._jsc.hadoopConfiguration()
                )
                fs.delete(hpath, True)
            except Exception:  # pragma: no cover - best effort
                pass

    # materialize the incoming edge plan ONCE — deriving nodes and the
    # working edge set from the raw lazy plan would execute the whole
    # upstream (blocking + scoring) twice
    spark.sparkContext.setJobDescription("cc: materialize edges")
    dtype = edges.schema["src"].dataType
    local = _driver_solvable(dtype)
    if local:
        # the eager checkpoint's own job sizes the edge set for the gate
        seen = Observation()
        edges = edges.observe(
            seen,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(_edge_bytes(dtype)), F.lit(0)).alias("bytes"),
        )
    raw = _ckpt(edges, True)
    if local and seen.get["bytes"] <= _LOCAL_MAX_BYTES:
        spark.sparkContext.setJobDescription(
            f"cc: driver solve ({seen.get['n']} edges)"
        )
        comp = _solve_on_driver(raw)
        # the result holds the solved labels itself, not a plan over raw
        _delete_superseded([raw])
        return comp
    # node set comes from the raw edges: a node appearing only in a
    # self-loop is still a (singleton) component. Lazy on purpose — it is
    # consumed exactly once (the final join), so an eager checkpoint here
    # would only add a full-edge-set materialization barrier before the
    # iteration starts (its plan roots at the checkpointed `raw`, so no
    # upstream recompute either way).
    nodes = raw.select(F.col("src").alias("node")).union(
        raw.select(F.col("dst").alias("node"))
    ).distinct()
    # lazy: materializes together with the first `_sig` aggregate below —
    # an eager checkpoint here would spend a separate job on a full pass
    # over the edge set (plan roots at the checkpointed `raw`, so laziness
    # cannot recompute upstream)
    e = _ckpt(raw.where(F.col("src") != F.col("dst")).distinct(), False)

    def _sig(df: DataFrame) -> tuple[int, int]:
        row = (
            df.select(
                F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
            )
            .agg(
                F.count("*").alias("n"),
                # modulo keeps the ANSI-mode sum far from int64 overflow
                F.coalesce(
                    F.sum(F.xxhash64("a", "b") % F.lit(1_000_000_007)), F.lit(0)
                ).alias("s"),
            )
            .collect()[0]
        )
        return int(row["n"]), int(row["s"])

    spark.sparkContext.setJobDescription("cc: star probe 0")
    prev = _sig(e)
    # frames whose checkpoints become garbage once the NEXT probe's final
    # edge set has materialized (the fused loop appends each round's
    # input, so the initial dedup enters the list at probe 1)
    superseded: list[DataFrame] = []
    converged = False
    for probe in range(1, max_iter + 1):
        spark.sparkContext.setJobDescription(f"cc: star probe {probe}")
        # fuse_rounds combined rounds per fixpoint probe, with a LAZY
        # checkpoint between them: each star substitutes its input
        # subtree twice, so chaining stars under one plan grows the
        # logical tree exponentially (4 chained stars ≈ 4^4 leaf copies,
        # measured ~2.4s of Catalyst analysis per round); the
        # intermediate lazy checkpoints keep every analyzed plan two
        # stars deep while still materializing all fused rounds in the
        # ONE job the single fixpoint aggregate drives — 1/fuse_rounds
        # the driver collects of the per-round form
        for _f in range(max(1, fuse_rounds)):
            superseded.append(e)
            e = _ckpt(_small_star(_large_star(e)), False)
        cur = _sig(e)
        # this probe's final edge set is on disk now; everything older
        # (previous probes + this probe's fused intermediates) is garbage
        _delete_superseded(superseded)
        superseded = []
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        warnings.warn(
            f"connected_components: edge set did not reach a fixpoint within "
            f"max_iter={max_iter} fused probes "
            f"({max(1, fuse_rounds) * max_iter} star "
            f"rounds); component labels may be unconverged "
            f"(last signature {prev}). Increase max_iter.",
            RuntimeWarning,
            stacklevel=3,
        )

    # After convergence every edge points child → root (star forest).
    labels = e.select(
        F.greatest("src", "dst").alias("node"), F.least("src", "dst").alias("component")
    ).groupBy("node").agg(F.min("component").alias("component"))
    return (
        nodes.join(labels, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )


def cluster_pages(
    scored_pairs: DataFrame,
    threshold: float,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score: str = "score",
) -> DataFrame:
    """Threshold scored pairs into edges and resolve clusters.

    Reference analog: per-mention argmax over candidate scores
    (``/root/reference/src/inference.py:26``) followed by the collective
    consistency pass; here: edge filter + transitive closure.
    """
    edges = scored_pairs.where(F.col(score) >= threshold).select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    return connected_components(edges)
