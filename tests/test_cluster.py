"""Connected-components correctness vs a driver-side union-find oracle.

Mirrors the reference's hand-computed-golden test style
(``/root/reference/test/max_product_test.py``) plus randomized graphs for
the scale paths (chain = transitivity, star = skew, random = convergence)
per FIXTURES.md §7. Every graph runs on both paths: the driver solve
(small edge sets) and the distributed star rounds, forced by lowering
the driver gate to zero edges.
"""

import os
import random
import warnings

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from entity_linking_spark.operators import cluster
from entity_linking_spark.operators.cluster import connected_components

PATHS = ("driver", "distributed")


@pytest.fixture
def distributed(monkeypatch):
    """Force the distributed star rounds for every edge set."""
    monkeypatch.setattr(cluster, "_LOCAL_MAX_BYTES", 0)


def _key(v):
    return tuple(v) if isinstance(v, Row) else v


def _components(df, path, **cc_kwargs):
    with pytest.MonkeyPatch.context() as mp:
        if path == "distributed":
            mp.setattr(cluster, "_LOCAL_MAX_BYTES", 0)
        rows = connected_components(df, **cc_kwargs).collect()
    got = {_key(r["node"]): _key(r["component"]) for r in rows}
    # one row per node: a duplicate would fold away in the dict
    assert len(rows) == len(got), path
    return got


def _union_find(n_nodes, edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # path-compress fully to the min representative
    return {x: find(x) for x in parent}


def _check(spark, edges, schema="src long, dst long", paths=PATHS, **cc_kwargs):
    df = spark.createDataFrame(edges, schema)
    exp = _union_find(None, edges)
    # union-find roots are the min of each component because union() always
    # parents the larger root — still normalize via a second pass
    comp_min = {}
    for node, root in exp.items():
        comp_min.setdefault(root, node)
        comp_min[root] = min(comp_min[root], node)
    exp_norm = {node: comp_min[root] for node, root in exp.items()}
    for path in paths:
        assert _components(df, path, **cc_kwargs) == exp_norm, path


def test_chain(spark):
    _check(spark, [(i, i + 1) for i in range(20)])


def test_two_components_and_star(spark):
    edges = [(0, i) for i in range(1, 30)]  # star hub 0
    edges += [(100, 101), (101, 102), (103, 102)]
    _check(spark, edges)


def test_self_loops_and_dups(spark):
    _check(spark, [(1, 1), (1, 2), (2, 1), (2, 3), (5, 5)])


def test_random_graph(spark):
    rng = random.Random(42)
    nodes = list(range(300))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(250)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_singleton_nodes_kept(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    for path in PATHS:
        with pytest.MonkeyPatch.context() as mp:
            if path == "distributed":
                mp.setattr(cluster, "_LOCAL_MAX_BYTES", 0)
            assert connected_components(df).count() == 2, path


def test_unconverged_warns(spark, distributed):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        connected_components(edges, max_iter=1).collect()
    assert any("fixpoint" in str(w.message) for w in rec)


def test_reliable_checkpoint_dir(spark, tmp_path, distributed):
    # checkpoint_dir switches localCheckpoint → reliable checkpoint: the
    # result is identical and checkpoint files land under the given dir
    edges = [(i, i + 1) for i in range(15)] + [(100, 101)]
    df = spark.createDataFrame(edges, "src long, dst long")
    ckdir = str(tmp_path / "cc_ckpt")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, checkpoint_dir=ckdir).collect()
    }
    exp = {i: 0 for i in range(16)} | {100: 100, 101: 100}
    assert got == exp
    # reliable checkpoints were actually written to the shared dir
    found = [
        f for root, _, files in os.walk(ckdir) for f in files
    ]
    assert found, "no checkpoint files written to checkpoint_dir"
    # superseded round checkpoints are deleted (round-4 advice): only the
    # live set remains — raw + the final edge set — not O(rounds) copies
    rdd_dirs = [
        d for root, dirs, _ in os.walk(ckdir) for d in dirs
        if d.startswith("rdd-")
    ]
    assert len(rdd_dirs) <= 2, rdd_dirs
    # the session checkpoint dir is handed back (no global clobber)
    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert not (opt.isDefined() and "cc_ckpt" in opt.get()), (
        "connected_components left its checkpoint dir set on the context"
    )


@pytest.mark.parametrize("fuse_rounds", [1, 2, 3])
@pytest.mark.parametrize("reliable", [False, True])
def test_fuse_rounds_parity(spark, tmp_path, fuse_rounds, reliable):
    # the documented 1-core-executor knob (operators/cluster.py fuse_rounds)
    # must be a pure performance choice: every fuse factor — with both the
    # localCheckpoint and reliable-checkpoint lineage truncation — yields
    # the identical component assignment on a graph mixing a chain
    # (worst-case diameter), a star (skew), self-loops and duplicates
    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(25)]          # chain
    edges += [(200, 200 + i) for i in range(1, 20)]  # star
    edges += [(3, 3), (10, 11), (11, 10)]            # self-loop + dups
    edges += [
        (rng.randrange(400, 450), rng.randrange(400, 450)) for _ in range(40)
    ]
    kwargs = {"fuse_rounds": fuse_rounds}
    if reliable:
        kwargs["checkpoint_dir"] = str(
            tmp_path / f"cc_fuse{fuse_rounds}"
        )
    _check(
        spark,
        [(a, b) for a, b in edges if a != b or a == 3],
        paths=("distributed",),
        **kwargs,
    )


def test_struct_ids_order_like_spark(spark):
    # id_bits=128 ids are struct<h1, h2>; Spark orders structs
    # lexicographically on the signed fields, as Python orders tuples
    big = 2**63 - 1
    edges = [
        ((1, -5), (1, 3)),
        ((-2, big), (1, 3)),
        ((-2, -big - 1), (7, 0)),
        ((7, 0), (7, -1)),
        ((5, 3), (6, 0)),
        ((5, 3), (5, -4)),  # min decided by h2
        ((9, 9), (9, 9)),
    ]
    _check(spark, edges, schema="src struct<h1:long,h2:long>, "
           "dst struct<h1:long,h2:long>")


def test_string_ids_order_like_spark(spark):
    # url ids (run_linkage_checkpointed) compare as UTF-8 bytes, which is
    # code point order: "\uffff" sorts before an emoji, unlike UTF-16
    edges = [
        ("\U0001F600", "\uffff"),
        ("b", "é"),
        ("B", "é"),
        ("", "x"),
        ("z", "z"),
    ]
    _check(spark, edges, schema="src string, dst string")


def test_negative_int64_ids(spark):
    # xxhash64 ids are signed and span the whole int64 range
    lo, hi = -(2**63), 2**63 - 1
    _check(spark, [(hi, lo), (hi, -1), (0, -1), (5, 6), (-7, -7)])


@pytest.mark.parametrize(
    "id_type", ["bigint", "struct<h1:bigint,h2:bigint>"]
)
def test_empty_edge_set_keeps_id_type(spark, id_type):
    df = spark.createDataFrame([], f"src {id_type}, dst {id_type}")
    for path in PATHS:
        with pytest.MonkeyPatch.context() as mp:
            if path == "distributed":
                mp.setattr(cluster, "_LOCAL_MAX_BYTES", 0)
            out = connected_components(df)
        assert out.collect() == [], path
        assert [f.dataType.simpleString() for f in out.schema] == [
            id_type, id_type
        ], path


def test_giant_chain_converges_within_default_max_iter(spark):
    # a 1,000-node chain under shuffled ids: the worst diameter for the
    # star rounds, which must converge within the default max_iter and
    # agree label for label with the driver solve
    rng = random.Random(11)
    ids = rng.sample(range(-(10**12), 10**12), 1000)
    df = spark.createDataFrame(list(zip(ids, ids[1:])), "src long, dst long")
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        dist = _components(df, "distributed")
    assert not [w for w in rec if "fixpoint" in str(w.message)]
    assert dist == {i: min(ids) for i in ids}
    assert _components(df, "driver") == dist


def test_driver_path_leaves_checkpoint_dir_alone(spark, tmp_path):
    # a reliable checkpoint dir only shapes the distributed rounds: the
    # driver solve deletes its edge snapshot and hands the session
    # checkpoint dir back
    ckdir = str(tmp_path / "cc_ckpt_driver")
    df = spark.createDataFrame([(1, 2), (3, 2), (8, 9)], "src long, dst long")
    got = _components(df, "driver", checkpoint_dir=ckdir)
    assert got == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}
    assert not [
        d for _, dirs, _ in os.walk(ckdir) for d in dirs if d.startswith("rdd-")
    ]
    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert not (opt.isDefined() and "cc_ckpt_driver" in opt.get())


def _labelled_jobs(spark, group, run):
    """→ descriptions of the jobs ``run`` starts under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "caller")
    try:
        run()
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc._jsc.clearJobGroup()
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    descs = []
    for j in sc.statusTracker().getJobIdsForGroup(group):
        d = jsc.statusStore().job(j).description()
        descs.append(d.get() if d.isDefined() else None)
    return descs


def test_job_descriptions_name_the_path(spark):
    # labels are local properties: they add no jobs. The driver solve is
    # the edge snapshot plus one Arrow collect; the distributed rounds
    # label each fixpoint probe; the caller's description comes back
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    descs = _labelled_jobs(
        spark, "cc-driver", lambda: connected_components(df)
    )
    assert sorted(descs) == [
        "cc: driver solve (2 edges)", "cc: materialize edges"
    ]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cluster, "_LOCAL_MAX_BYTES", 0)
        descs = _labelled_jobs(
            spark, "cc-distributed", lambda: connected_components(df)
        )
    assert descs and all(d.startswith("cc: ") for d in descs), descs
    assert "cc: star probe 1" in descs
    assert not any("driver solve" in d for d in descs)


def test_gate_counts_id_bytes(spark, monkeypatch):
    # the driver gate bounds the bytes of the collected ids, not the edge
    # count: two int64 edges are 64 bytes, the same graph under long urls
    # is over 800 and stays on the distributed rounds
    monkeypatch.setattr(cluster, "_LOCAL_MAX_BYTES", 100)
    pad = "x" * 200
    edges = [(1, 2), (2, 3)]
    ints = spark.createDataFrame(edges, "src long, dst long")
    urls = spark.createDataFrame(
        [(f"{pad}{a}", f"{pad}{b}") for a, b in edges], "src string, dst string"
    )
    descs = _labelled_jobs(
        spark, "cc-gate-int", lambda: connected_components(ints)
    )
    assert "cc: driver solve (2 edges)" in descs, descs
    descs = _labelled_jobs(
        spark, "cc-gate-url", lambda: connected_components(urls)
    )
    assert "cc: star probe 1" in descs, descs
    assert not any("driver solve" in d for d in descs), descs
    got = {
        r["node"]: r["component"] for r in connected_components(urls).collect()
    }
    assert got == {f"{pad}{i}": f"{pad}1" for i in (1, 2, 3)}
