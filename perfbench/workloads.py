"""The benchmark's workloads: inputs, the timed call sequence, oracles.

Every workload builds its input from the seed with linkgraph's own
generators, then repeats one call sequence as a closed loop (one client, the
next call only after the previous result has been collected on the driver).
Distributed algorithm calls pin ``strategy="distributed"``, the only plan at
the scale the library targets.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from linkgraph import (
    LinkGraph,
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)
from linkgraph.checkpoint import CheckpointManager
from linkgraph.corpus import derive_edges, ingest, synthesize_corpus
from linkgraph.generators import rmat_graph

from perfbench import oracles

CORPUS_FILES = 5_000
RMAT_SCALE = 13
RMAT_SAMPLES = 50_000
PR_TOL = 1e-6
PR_MAX_ITER = 100
LPA_STEPS = 5
CHECKPOINT_INTERVAL = 5  # linkgraph's default snapshot interval
RESUME_STOP_AT = 5  # the corpus graph needs about 15 supersteps
RANK_ATOL = 1e-6  # per-vertex agreement with the numpy oracle
RESUME_ATOL = 1e-12  # resumed vs uninterrupted run


@dataclass
class Verdict:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class Rep:
    """One timed repetition: what was collected, and its verdicts."""

    out: dict = field(default_factory=dict)
    verdicts: list[Verdict] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(v.ok for v in self.verdicts)


class Interrupted(Exception):
    """Raised by :class:`BenchCheckpoint` to stop a run after a snapshot."""


class BenchCheckpoint(CheckpointManager):
    """CheckpointManager that times its own calls and can stop the run right
    after the snapshot of step ``stop_at`` is complete."""

    def __init__(self, root, spark, tracer, stop_at=None):
        super().__init__(root, spark)
        self.tracer = tracer
        self.stop_at = stop_at
        self.saves = 0
        self.save_s = 0.0
        self.load_s = 0.0

    def save(self, step, tables, metrics):
        t0 = time.perf_counter()
        with self.tracer.span("checkpoint.save", layer=True, step=step):
            manifest = super().save(step, tables, metrics)
        self.save_s += time.perf_counter() - t0
        self.saves += 1
        if step == self.stop_at:
            raise Interrupted(step)
        return manifest

    def _timed_read(self, fn, *args):
        t0 = time.perf_counter()
        with self.tracer.span("checkpoint.load", layer=True):
            out = fn(*args)
        self.load_s += time.perf_counter() - t0
        return out

    def latest_step(self):
        return self._timed_read(super().latest_step)

    def manifest(self, step):
        return self._timed_read(super().manifest, step)

    def load(self, step, name):
        # lazy: the snapshot's scan runs in the first resumed superstep
        return self._timed_read(super().load, step, name)


def _du_mb(path: str) -> float:
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total / 1e6


def _max_degree(src, dst) -> int:
    """Largest number of edge endpoints at one node (in + out)."""
    return int(pd.concat([src, dst]).value_counts().max())


def _persist_count(df):
    df = df.persist()
    return df, df.count()


class Workload:
    """Interface: ``build`` one input (repeated for ``setup_s``), ``warmup``,
    ``rep`` (the timed call sequence), ``oracle_inputs`` and ``check`` (one
    repetition's output), and ``setup_metrics`` / ``layer_metrics`` for a
    traced run."""

    name = ""

    def __init__(self, run):
        self.run = run
        self.state: dict = {}

    def release(self):
        for df in self.state.get("cached", []):
            df.unpersist()
        self.state = {}


class PageRankCorpus(Workload):
    name = "pagerank_corpus"

    def build(self):
        run, t = self.run, self.run.tracer
        spark, seed = run.spark, run.seed
        with t.span("corpus.synthesize", layer=True):
            corpus, rows = _persist_count(
                ingest(
                    synthesize_corpus(
                        spark,
                        n_files=CORPUS_FILES,
                        n_repos=max(50, CORPUS_FILES // 1000),
                        commits_per_file=2,
                        seed=seed,
                        num_partitions=run.cores,
                    )
                )
            )
        with t.span("corpus.derive", layer=True):
            edges, m = _persist_count(derive_edges(corpus, cochange_cap=16))
        with t.span("graph.encode", layer=True):
            g, _ = LinkGraph(edges.select("src", "dst", "weight")).encode_ids()
            _persist_count(g.edges)
            _, n = _persist_count(g.nodes)
        corpus.unpersist()
        edges.unpersist()
        self.state = {
            "graph": g,
            "cached": [g.edges, g.nodes],
            "rows": rows,
            "edges": m,
            "nodes": n,
        }

    def _pagerank(self, **kw):
        g = self.state["graph"]
        res = pagerank(g, tol=PR_TOL, max_iter=PR_MAX_ITER, strategy="distributed", **kw)
        ranks = res.ranks.toPandas()
        return res, ranks.set_index("id")["pagerank"]

    def warmup(self):
        """One plain repetition; a traced run first measures the checkpoint
        layer (:meth:`checkpointed`)."""
        if self.run.tracer.layers:
            self.checkpointed()
        self.rep()

    def checkpointed(self):
        """PageRank snapshotting every ``CHECKPOINT_INTERVAL`` supersteps,
        stopped right after the snapshot of step ``RESUME_STOP_AT``, then
        resumed to the fixpoint from that snapshot."""
        run, t = self.run, self.run.tracer
        root = os.path.join(run.work_dir, "checkpoint")
        shutil.rmtree(root, ignore_errors=True)
        first = BenchCheckpoint(root, run.spark, t, stop_at=RESUME_STOP_AT)
        t0 = time.perf_counter()
        with t.span("pagerank", layer=True, mode="checkpointed"):
            try:
                self._pagerank(checkpoint=first, checkpoint_interval=CHECKPOINT_INTERVAL)
                raise RuntimeError("checkpointed run was not interrupted")
            except Interrupted:
                pass
        t1 = time.perf_counter()
        second = BenchCheckpoint(root, run.spark, t)
        with t.span("pagerank", layer=True, mode="resume"):
            res, ranks = self._pagerank(
                checkpoint=second, checkpoint_interval=CHECKPOINT_INTERVAL, resume=True
            )
        t2 = time.perf_counter()
        self.state["resume"] = {
            "ranks": ranks,
            "iterations": res.iterations,
            "resume_s": t2 - t1,
            "wall_s": t2 - t0,
            "saves": first.saves + second.saves,
            "save_s": first.save_s + second.save_s,
            "load_s": second.load_s,
            "mb_written": _du_mb(root),
        }
        shutil.rmtree(root, ignore_errors=True)

    def setup_metrics(self, build_wall, build_counters) -> dict:
        st = self.state
        return {
            "corpus.synthesize_s": build_wall("corpus.synthesize"),
            "corpus.derive_s": build_wall("corpus.derive"),
            "corpus.rows": st["rows"],
            "corpus.edges": st["edges"],
            "corpus.shuffle_mb": (
                build_counters("corpus.synthesize").shuffle_write_bytes
                + build_counters("corpus.derive").shuffle_write_bytes
            ) / 1e6,
            "graph.encode_s": build_wall("graph.encode"),
            "graph.nodes": st["nodes"],
            "graph.max_degree": st["max_degree"],
        }

    def rep(self) -> Rep:
        with self.run.tracer.span("pagerank", layer=True) as sp:
            res, ranks = self._pagerank()
        return Rep(out={"result": res, "ranks": ranks, "span": sp})

    def oracle_inputs(self):
        g = self.state["graph"]
        e = g.edges.select("src", "dst", F.col("weight").cast("double")).toPandas()
        nodes = g.nodes.toPandas()["id"].to_numpy()
        self.state["max_degree"] = _max_degree(e.src, e.dst)
        ref, iters = oracles.pagerank(
            e.src.to_numpy(), e.dst.to_numpy(), e.weight.to_numpy(), nodes,
            tol=PR_TOL, max_iter=PR_MAX_ITER,
        )
        return {"ranks": ref, "iterations": iters}

    def check(self, rep: Rep, oracle, first: Rep | None):
        ranks = rep.out["ranks"]
        ref = oracle["ranks"]
        got = ranks.reindex(ref.index).to_numpy()
        v = [
            Verdict("pagerank.nodes", len(ranks) == len(ref), f"{len(ranks)} vs {len(ref)}"),
            Verdict(
                "pagerank.allclose",
                bool(np.allclose(got, ref.to_numpy(), rtol=0, atol=RANK_ATOL)),
                f"max |d| = {np.nanmax(np.abs(got - ref.to_numpy())):.3g}",
            ),
            Verdict("pagerank.sum", abs(ranks.sum() - 1.0) < 1e-9, f"{ranks.sum():.12f}"),
            Verdict("pagerank.converged", bool(rep.out["result"].converged)),
        ]
        if first is None and "resume" in self.state:  # once per traced run
            r = self.state["resume"]
            diff = np.abs(r["ranks"].reindex(ranks.index).to_numpy() - ranks.to_numpy())
            v.append(
                Verdict(
                    "resume.matches_uninterrupted",
                    bool(np.all(diff <= RESUME_ATOL))
                    and r["iterations"] == rep.out["result"].iterations,
                    f"max |d| = {np.nanmax(diff):.3g}, steps {r['iterations']}",
                )
            )
        return v

    def layer_metrics(self, rep: Rep, span_counters) -> dict:
        res = rep.out["result"]
        sp = rep.out["span"]
        walls = [h["wall_sec"] for h in res.history]
        steps = max(res.iterations, 1)
        step_s = statistics.median(walls) if walls else 0.0
        c = span_counters(sp)
        r = self.state["resume"]
        return {
            "pagerank.supersteps": res.iterations,
            "pagerank.superstep_s": step_s,
            "pagerank.build_s": sp.wall_s - sum(walls),
            "pagerank.superstep_edges_per_s": res.num_edges / step_s if step_s else 0.0,
            "pagerank.jobs_per_superstep": c.jobs / steps,
            "pagerank.shuffle_mb_per_superstep": c.shuffle_write_bytes / 1e6 / steps,
            "pagerank.active_ratio": sum(h["active_vertices"] for h in res.history)
            / (res.num_nodes * steps),
            "checkpoint.saves": r["saves"],
            "checkpoint.save_s": r["save_s"],
            "checkpoint.mb_written": r["mb_written"],
            "checkpoint.load_s": r["load_s"],
            "checkpoint.resume_s": r["resume_s"],
            "checkpoint.share": r["save_s"] / r["wall_s"],
        }


class CcLpaRmat(Workload):
    name = "cc_lpa_rmat"

    def build(self):
        run, t = self.run, self.run.tracer
        with t.span("generators.rmat", layer=True):
            raw, samples = _persist_count(
                rmat_graph(
                    run.spark, RMAT_SCALE, RMAT_SAMPLES, seed=run.seed,
                    num_partitions=run.cores,
                ).select("src", "dst")
            )
        with t.span("graph.build", layer=True):
            g = LinkGraph(raw, keys={"directed": False})
            _, m = _persist_count(g.edges)
            _, n = _persist_count(g.nodes)
        raw.unpersist()
        self.state = {
            "graph": g,
            "cached": [g.edges, g.nodes],
            "samples": samples,
            "edges": m,
            "nodes": n,
        }

    def setup_metrics(self, build_wall, build_counters) -> dict:
        st = self.state
        return {
            "generators.rmat_s": build_wall("generators.rmat"),
            "generators.edges": st["samples"],
            "graph.nodes": st["nodes"],
            "graph.max_degree": st["max_degree"],
        }

    def warmup(self):
        self.rep()

    def rep(self) -> Rep:
        g, t = self.state["graph"], self.run.tracer
        out = {}
        with t.span("components", layer=True) as sp:
            cc = connected_components(g, method="two_star", strategy="distributed")
            out["cc"] = cc.select("id", "component").toPandas()
        out["cc_span"] = sp
        with t.span("label_propagation", layer=True) as sp:
            out["lpa"] = label_propagation(g, max_iter=LPA_STEPS).toPandas()
        out["lpa_span"] = sp
        with t.span("triangles", layer=True) as sp:
            out["triangles"] = triangle_count(g)
        out["tri_span"] = sp
        return Rep(out=out)

    def oracle_inputs(self):
        g = self.state["graph"]
        e = g.edges.select("src", "dst").toPandas()
        nodes = g.nodes.toPandas()["id"].to_numpy()
        s, d = e.src.to_numpy(), e.dst.to_numpy()
        self.state["max_degree"] = _max_degree(e.src, e.dst)
        return {
            "components": oracles.min_label_components(s, d, nodes),
            "lpa": oracles.label_propagation(s, d, nodes, LPA_STEPS),
            "triangles": oracles.triangle_count(s, d),
            "nodes": set(nodes.tolist()),
        }

    def check(self, rep: Rep, oracle, first: Rep | None):
        cc = rep.out["cc"].set_index("id")["component"]
        ref_cc = oracle["components"]
        lpa = rep.out["lpa"].set_index("id")["label"]
        ref_lpa = oracle["lpa"]
        fp = oracles.fingerprint(lpa.index, lpa.to_numpy())
        rep.out["lpa_fingerprint"] = fp
        v = [
            Verdict(
                "components.min_label",
                len(cc) == len(ref_cc) and bool((cc.reindex(ref_cc.index) == ref_cc).all()),
                f"{cc.nunique()} components",
            ),
            Verdict(
                "label_propagation.labels_are_nodes",
                set(lpa.unique().tolist()) <= oracle["nodes"],
            ),
            Verdict(
                "label_propagation.matches_oracle",
                len(lpa) == len(ref_lpa) and bool((lpa.reindex(ref_lpa.index) == ref_lpa).all()),
            ),
            Verdict(
                "triangles.count",
                rep.out["triangles"] == oracle["triangles"],
                f"{rep.out['triangles']} vs {oracle['triangles']}",
            ),
        ]
        if first is not None:
            v.append(
                Verdict(
                    "label_propagation.repeatable",
                    fp == first.out.get("lpa_fingerprint"),
                )
            )
        return v

    def layer_metrics(self, rep: Rep, span_counters) -> dict:
        cc, lpa, tri = (span_counters(rep.out[k]) for k in ("cc_span", "lpa_span", "tri_span"))
        return {
            "components.s": rep.out["cc_span"].wall_s,
            "components.jobs": cc.jobs,
            "components.shuffle_write_records": cc.shuffle_write_records,
            "components.count": int(rep.out["cc"]["component"].nunique()),
            "label_propagation.s": rep.out["lpa_span"].wall_s,
            "label_propagation.jobs": lpa.jobs,
            "label_propagation.shuffle_write_records": lpa.shuffle_write_records,
            "label_propagation.task_skew": lpa.task_skew,
            "triangles.s": rep.out["tri_span"].wall_s,
            "triangles.jobs": tri.jobs,
            "triangles.shuffle_write_records": tri.shuffle_write_records,
            "triangles.count": rep.out["triangles"],
        }


WORKLOADS = {w.name: w for w in (PageRankCorpus, CcLpaRmat)}
