"""Traced run: the linkage stages one layer at a time.

``traced_link`` calls the same public functions, with the same arguments,
that ``plans.pipeline.link_pages`` calls for a string-id input at the
default 64-bit id width, but persists and counts each layer's output
before the next layer starts, so every layer gets its own span and job
group. Its clusters must equal the untraced run's. ``traced_checkpoint``
runs ``run_linkage_checkpointed`` into a fresh run_dir and resumes it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from linkbench import sparkstats

LAYERS = (
    "pipeline.widen",
    "blocking.block_keys",
    "blocking.salt_cap",
    "pairs.candidate_pairs",
    "scoring.doc_payload",
    "scoring.score_pairs",
    "pipeline.edges",
    "cluster.connected_components",
    "pipeline.restore",
)
CHECKPOINT_STAGES = ("blocks", "pairs", "payload", "scored", "clusters")


class Tracer:
    """Spans (name, start, end, parent, run id) plus per-layer counters,
    kept in memory and written out as one JSON document."""

    def __init__(self, sc, run_id: str, cores: int):
        self.sc = sc
        self.run_id = run_id
        self.cores = cores
        self.spans: list[dict] = []
        self.metrics: dict[str, float] = {}
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time ``name`` and attribute the jobs it starts to it."""
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._open.append(idx)
        group = f"{self.run_id}/{name}"
        sparkstats.begin(self.sc, group)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
        secs = rec["end"] - rec["start"]
        st = sparkstats.collect(self.sc, group)
        self.metrics.update({
            f"{name}.s": secs,
            f"{name}.jobs": st.jobs,
            f"{name}.busy_core_s": st.busy_core_s,
            f"{name}.shuffle_mb": st.shuffle_mb,
            f"{name}.core_util": st.busy_core_s / (secs * self.cores),
        })

    def untimed(self) -> None:
        """Attribute the next jobs to no layer (counts taken for the
        report between spans)."""
        sparkstats.begin(self.sc, f"{self.run_id}/stats")

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"run_id": self.run_id, "spans": self.spans,
                 "metrics": self.metrics, **extra},
                fh, indent=1,
            )


def traced_link(tr: Tracer, pages, cfg) -> list[tuple[str, str]]:
    """Layer-by-layer ``link_pages(pages, id_col="url", text_col="text",
    url_col="url", config=cfg)``; returns the collected clusters."""
    from entity_linking_spark.operators.blocking import (
        block_keys,
        cap_block_size,
        salt_mega_blocks,
    )
    from entity_linking_spark.operators.cluster import connected_components
    from entity_linking_spark.operators.pairs import candidate_pairs
    from entity_linking_spark.operators.scoring import doc_payload, score_pairs
    from entity_linking_spark.plans.pipeline import _widen_input

    if cfg.id_bits != 64:
        raise ValueError("the traced run mirrors 64-bit working ids only")
    m = tr.metrics
    nid = F.xxhash64(F.col("url"))
    with tr.span("pipeline.widen"):
        wide = _widen_input(pages.select("url", "text")).persist()
        work = wide.withColumn("_nid", nid).persist()
        work.count()
    with tr.span("blocking.block_keys"):
        raw_blocks = block_keys(
            work, id_col="_nid", text_col="text", url_col="url",
            num_hashes=cfg.num_hashes, bands=cfg.bands,
            shingle_k=cfg.shingle_k, prefix_tokens=cfg.prefix_tokens,
            hash_keys=cfg.hash_block_keys,
        ).persist()
        m["blocking.block_keys.rows_out"] = raw_blocks.count()
    with tr.span("blocking.salt_cap"):
        blocks = cap_block_size(
            salt_mega_blocks(raw_blocks, max_block=cfg.max_block,
                             n_salts=cfg.n_salts),
            max_block=cfg.max_block,
        ).persist()
        m["blocking.salt_cap.rows_out"] = blocks.count()
    m["blocking.salt_cap.rows_in"] = m["blocking.block_keys.rows_out"]
    m["blocking.salt_cap.dropped_rows"] = (
        m["blocking.salt_cap.rows_in"] - m["blocking.salt_cap.rows_out"]
    )
    tr.untimed()
    m["blocking.salt_cap.salted_keys"] = (
        raw_blocks.groupBy("block_key").count()
        .where(F.col("count") > cfg.max_block).count()
    )
    with tr.span("pairs.candidate_pairs"):
        pairs = candidate_pairs(blocks, with_count=cfg.prior_features).persist()
        m["pairs.candidate_pairs.pairs"] = pairs.count()
    with tr.span("scoring.doc_payload"):
        payload = doc_payload(
            work, id_col="_nid", text_col="text", topk=cfg.payload_topk,
            hash_tokens=cfg.hash_tokens,
        ).persist()
        payload.count()
    with tr.span("scoring.score_pairs"):
        scored = score_pairs(
            pairs, payload, weights=cfg.weights, model=cfg.model
        ).persist()
        scored.count()
    m["scoring.score_pairs.pairs_per_s"] = (
        m["pairs.candidate_pairs.pairs"] / m["scoring.score_pairs.s"]
    )
    with tr.span("pipeline.edges"):
        edges = scored.where(F.col("score") >= cfg.edge_threshold).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ).persist()
        m["pipeline.edges.edges"] = edges.count()
    m["pipeline.edges.edge_yield"] = m["pipeline.edges.edges"] / max(
        m["pairs.candidate_pairs.pairs"], 1
    )
    with tr.span("cluster.connected_components"):
        comp = connected_components(
            edges, checkpoint_dir=cfg.cc_checkpoint_dir,
            fuse_rounds=cfg.cc_fuse_rounds,
        ).persist()
        m["cluster.connected_components.nodes"] = comp.count()
    tr.untimed()
    (
        m["cluster.connected_components.components"],
        m["cluster.connected_components.largest_component"],
    ) = comp.groupBy("component").count().agg(
        F.count("*"), F.coalesce(F.max("count"), F.lit(0))
    ).first()
    with tr.span("pipeline.restore"):
        ids = wide.select(F.col("url").alias("id"), nid.alias("_nid"))
        labeled = ids.join(comp, ids._nid == comp.node, "left").select(
            "id", F.coalesce("component", F.col("_nid")).alias("_comp")
        )
        reps = labeled.groupBy("_comp").agg(F.min("id").alias("cluster_id"))
        rows = [
            (r["id"], r["cluster_id"])
            for r in labeled.join(reps, "_comp").select("id", "cluster_id")
            .collect()
        ]
    return rows


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def traced_checkpoint(
    tr: Tracer, spark, pages, cfg, run_dir: str, input_bytes: int
) -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """Checkpointed run into a fresh ``run_dir``, then a resume of it;
    → (clusters of the run, clusters of the resume)."""
    from entity_linking_spark.checkpoint import run_linkage_checkpointed

    def run():
        out = run_linkage_checkpointed(
            spark, pages, run_dir, cfg,
            id_col="url", text_col="text", url_col="url",
        )
        return [(r["id"], r["cluster_id"]) for r in out.collect()]

    m = tr.metrics
    with tr.span("checkpoint.run"):
        rows = run()
    with open(os.path.join(run_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    for stage in CHECKPOINT_STAGES:
        m[f"checkpoint.{stage}.write_s"] = manifest[stage]["seconds"]
        m[f"checkpoint.{stage}.bytes"] = _dir_bytes(
            os.path.join(run_dir, f"stage_{stage}")
        )
    m["checkpoint.stored_bytes_ratio"] = _dir_bytes(run_dir) / input_bytes
    with tr.span("checkpoint.resume"):
        resumed = run()
    return rows, resumed
