"""curation_batch: the LLM-curation user running a batch pipeline.

A pass runs seven ops in a seed-permuted order. Five are suite entries over
`documents` and `embeddings`, each built and then executed into a `noop`
sink: a pair join, fuzzy dedup with connected components, a text-quality
pipeline, an Arrow round trip and vector top-k. Two are streaming ingest
queries over `events` (see ingest.py). An op is one entry or one query run.

The warm-up is also the check of the entries: it builds and runs every entry
once on the same tables, three at a time, and compares the result with the
entry's DuckDB oracle; then it runs one untimed pass. The streaming queries
are checked on their last run.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np

from dataselector_spark.suite import QUERIES
from tests.oracle_harness import compare

from .ingest import QUERY_SPECS, Ingest
from .trace import parse_metric

SF = 0.02
WARM_THREADS = 3
WARM_PASS = 1_000_000  # pass index of the untimed warm-up pass
TABLES = ("events", "documents", "embeddings")
PAIR_JOINS = ("b13_prefix_filter_pairs",)
ENTRIES = PAIR_JOINS + (
    "b13_dedup_survivors", "b24_curation_pipeline",
    "b16_ppm_roundtrip", "b14_topk_cosine",
)
OPS = ENTRIES + tuple(QUERY_SPECS)
JOIN_NODES = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin")


class CurationBatch:
    name = "curation_batch"
    sf = SF
    tables = TABLES

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.ingest = Ingest(ctx)
        self.problems: list[str] = []

    def prepare(self, events) -> None:
        self.ingest.prepare(events)

    def warm_up(self) -> None:
        # the ops are independent, and much of a cold op's time is
        # single-threaded driver work (planning, code generation, class
        # loading), so they warm up on several threads at once; a streaming
        # query sets the session's shuffle partitions while it runs and
        # restores them after, so the streaming queries share one thread
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            streams = pool.submit(lambda: [self.ingest.run(kind, -1) for kind in QUERY_SPECS])
            self.problems += [p for p in pool.map(self._check_entry, ENTRIES) if p]
            streams.result()
        # the JVM is still compiling hot code after the cold start: the pass
        # after it runs about a fifth slower than the ones that follow
        self.run_pass(WARM_PASS)

    def _check_entry(self, name: str) -> str | None:
        q = QUERIES[name]
        ok, detail = compare(self.ctx.spark, self.ctx.data_dir, q.fn, q.oracle)
        return None if ok else f"{name}: {detail[:300]}"

    def run_pass(self, idx: int) -> list[dict]:
        """Run pass `idx`; returns one record per op."""
        ctx, tr = self.ctx, self.ctx.tracer
        order = np.random.default_rng([ctx.seed, 20, idx]).permutation(len(OPS))
        ops = []
        for name in (OPS[i] for i in order):
            t0 = ctx.clock()
            with tr.span(name, op=name):
                if name in QUERY_SPECS:
                    ctx.groups.clear()
                    self.ingest.run(name, idx)
                else:
                    ctx.groups.set(f"cur:{name}:build", name)
                    with tr.span("suite.build"):
                        df = QUERIES[name].fn(ctx.spark, ctx.data_dir)
                    ctx.groups.set(f"cur:{name}:exec", name)
                    with tr.span("exec.noop"):
                        df.write.format("noop").mode("overwrite").save()
            ops.append({"op": f"{idx}.{name}", "name": name, "s": ctx.clock() - t0})
        ctx.groups.clear()
        return ops

    def check(self) -> list[str]:
        return self.problems + self.ingest.check()

    def layer_metrics(self, snap, idx: int) -> dict[str, float]:
        tr = self.ctx.tracer
        out: dict[str, float] = {}
        for name in ENTRIES:
            (stage,) = tr.named(name)
            build = next(s for s in tr.spans if s.name == "suite.build" and s.op == name)
            exec_ = next(s for s in tr.spans if s.name == "exec.noop" and s.op == name)
            sums = snap.exec_sums([f"cur:{name}:build", f"cur:{name}:exec"])
            out[f"curation.{name}.build_s"] = build.end - build.start
            out[f"curation.{name}.exec_s"] = exec_.end - exec_.start
            out[f"curation.{name}.build_jobs"] = float(len(snap.job_ids([f"cur:{name}:build"])))
            out[f"curation.{name}.executor_cpu_s"] = sums["executor_cpu_s"]
            out[f"curation.{name}.shuffle_write_mb"] = sums["shuffle_write_mb"]
            out[f"curation.{name}.py4j_cmds"] = float(stage.py4j)
        candidates = verified = 0.0
        for name in PAIR_JOINS:
            for eid in snap.execution_ids([f"cur:{name}:exec"]):
                nodes = snap.reader.plan_nodes(eid)
                rows = [n["values"].get("number of output rows") for n in nodes]
                joins = [_rows(n) for n in nodes if n["name"] in JOIN_NODES]
                candidates += max(joins, default=0.0)
                verified += next((_rows(n) for n, r in zip(nodes, rows) if r), 0.0)
        out["dedup.pair_candidates"] = candidates
        out["dedup.pair_yield"] = verified / candidates if candidates else 0.0
        out.update(self.ingest.layer_metrics(idx))
        return out


def _rows(node: dict) -> float:
    return parse_metric(node["values"].get("number of output rows"))
