"""Turn a run's ops and spans into the benchmark's metrics.

End-to-end metrics come from untraced ops after the workload's warm-up
rounds, per-layer metrics from traced ops. End-to-end times are wall
times; the report prints the host's steal share (``spans.Interval``)
beside them.
"""

from __future__ import annotations

from spans import Span, median, tail

# end-to-end metrics every workload reports (BENCHMARK.json "end_to_end")
END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
}

# per-layer metrics (BENCHMARK.json "per_layer"). Every workload reports
# every name; a layer the workload never calls reports 0.
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    # the JVM's adaptive heap sizing moves this by a quarter between
    # identical runs, too much for a bound, so it is reported, not gated
    "peak_rss_mb": "MB",
    "etl.run_data_lake_s": "s",
    "etl.rows_kept_ratio": "ratio",
    "io.merge_by_key_s": "s",
    "io.compact_parquet_s": "s",
    "io.bytes_written_per_input_byte": "ratio",
    "io.lake_files": "count",
    "io.scan_input_bytes": "bytes",
    "sql.build_s": "s",
    "sql.exec_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "queries.jobs": "count",
    "queries.tasks": "count",
    "queries.shuffle_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "operators.shuffle_bytes": "bytes",
    "llm.ann.prepare_ann_route_s": "s",
    # the route as numbers: tier is the index in ROUTE_TIERS (0: no route)
    "llm.ann.route.tier": "index",
    "llm.ann.route.n_cells": "count",
    "llm.ann.route.n_probe": "count",
    "llm.ann.ann_topk_auto_build_s": "s",
    "llm.ann.ann_topk_auto_exec_s": "s",
    "llm.search.ann_search_build_s": "s",
    "llm.search.ann_search_exec_s": "s",
    "llm.search.ann_search_build_jobs": "count",
    "llm.minhash.minhash_near_dup_pairs_s": "s",
    "llm.minhash.candidates": "count",
    "llm.minhash.verified_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.core_busy_ratio": "ratio",
    "spark.jobs_per_op": "count",
    "trace.overhead_ratio": "ratio",
}

ROUTE_TIERS = ("none", "exact", "ivf", "ivfpq", "lsh")

# the per-layer counters of each query layer
_QUERY_LAYER_FIELDS = {
    "sql": ("build_s", "exec_s"),
    "queries": ("build_s", "build_jobs", "exec_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes"),
    "operators": ("build_s", "exec_s", "shuffle_bytes"),
}


class Result:
    def __init__(self, wl, tr, setups, spark_s, peak_mb, loop_s, gc_s, cores):
        self.wl, self.tr = wl, tr
        self.setups = [wall for wall, _ in setups]
        self.setup_steal = [steal for _, steal in setups]
        self.spark_s = spark_s
        self.peak_mb, self.loop_s, self.gc_s, self.cores = peak_mb, loop_s, gc_s, cores
        self.plain = [o for o in tr.ops if not o.traced]
        # end-to-end figures skip the workload's warm-up rounds
        self.timed = [o for o in self.plain if o.round >= wl.WARMUP_ROUNDS]
        self.traced = [o for o in tr.ops if o.traced]
        self.op_spans = {s.op_id: s for s in tr.spans if s.parent is None and s.op_id >= 0}

    # -- end-to-end ----------------------------------------------------------

    def _latency(self, kind: str) -> tuple[list[float], list[float]]:
        """(all timed rounds, tail rounds) latencies of one op kind. The
        tail reads the timed rounds every run has (up to ``MIN_ROUNDS``),
        so its percentile does not move with the number of rounds that fit
        in the run."""
        ops = [o for o in self.timed if o.kind == kind]
        return ([o.latency for o in ops],
                [o.latency for o in ops if o.round < self.wl.MIN_ROUNDS])

    def end_to_end(self) -> dict:
        lat, window = self._latency(self.wl.latency_kind)
        vals = {
            "setup_s": median(self.setups),
            "ops_per_s": len(self.timed) / sum(o.latency for o in self.timed),
            "op_p50_s": median(lat),
            "op_tail_s": tail(window)[0],
        }
        return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in vals.items()}

    def _rate(self, kinds, items_kinds=None) -> float:
        ops = [o for o in self.timed if o.kind in kinds]
        items = sum(o.items for o in ops if items_kinds is None or o.kind in items_kinds)
        return items / max(sum(o.latency for o in ops), 1e-9)

    def _latency_lines(self, kind: str) -> list:
        lat, window = self._latency(kind)
        t, pct = tail(window)
        rounds = ", ".join(map(str, range(self.wl.WARMUP_ROUNDS, self.wl.MIN_ROUNDS)))
        return [(f"{kind}_p50_s", median(lat), "s", f"n={len(lat)}"),
                (f"{kind}_tail_s", t, "s", f"p{pct} of round {rounds}, n={len(window)}")]

    def named(self) -> list[tuple[str, float, str, str]]:
        """The workload's metrics under their descriptive names:
        (name, value, unit, note)."""
        wl, ops = self.wl, self.tr.ops
        failed = sum(not o.ok for o in ops)
        out = [
            ("setup_s", median(self.setups), "s",
             f"median of {len(self.setups)}, first on a cold JVM: "
             + " ".join(f"{x:.3f}" for x in self.setups)),
            ("peak_rss_mb", self.peak_mb, "MB", "driver + JVM + Python workers"),
            ("failed_ratio", failed / len(ops), "ratio", f"{failed} of {len(ops)} ops"),
        ]
        if wl.name == "lake":
            out.append(("ingest_rows_per_s",
                        self._rate({"load", "merge", "compact"}, {"load", "merge"}), "rows/s",
                        "CSV + batch rows / time in load, merge and compact ops"))
            out += self._latency_lines("merge")
            lat, _ = self._latency("query")
            out.append(("queries_per_s", len(lat) / max(sum(lat), 1e-9), "queries/s",
                        "closed loop, 1 client"))
            out += self._latency_lines("query")
        else:
            out.append(("dedup_docs_per_s", self._rate({"dedup"}), "docs/s",
                        "minhash_near_dup_pairs"))
            out.append(("dedup_recall", median(wl.dedup_recall), "ratio",
                        f"of {len(wl.planted)} planted pairs"))
            out.append(("embed_dedup_vectors_per_s", self._rate({"embed_dedup"}), "vectors/s",
                        "ann_topk_auto self top-k"))
            out.append(("ann_recall_at_10", median(wl.ann_recall), "ratio",
                        "vs brute-force top-10"))
            out += self._latency_lines("search")
        out.append(("steal_share", median(o.steal for o in self.timed), "ratio",
                    "median over ops; set-up " + " ".join(f"{x:.3f}" for x in self.setup_steal)))
        return out

    # -- per-layer -----------------------------------------------------------

    def _spans(self, name: str) -> list[Span]:
        traced = {o.id for o in self.traced}
        return [s for s in self.tr.spans if s.name == name and s.op_id in traced]

    def _op_counter(self, o, key: str) -> int:
        return sum(self.tr.span_counter(s, key) for s in self.tr.subtree(self.op_spans[o.id]))

    def _op_jobs(self, o) -> int:
        return sum(len(s.jobs) for s in self.tr.subtree(self.op_spans[o.id]))

    def _core_busy(self) -> float:
        run_s = sum(self._op_counter(o, "run_ms") for o in self.traced) / 1000.0
        return run_s / max(sum(o.latency for o in self.traced) * self.cores, 1e-9)

    def overhead(self) -> float:
        """Traced over untraced time of the same ops after the first
        round, minus one, over the op names that ran both ways."""
        warm = [o for o in self.plain if o.round >= 1]
        names = {o.name for o in self.traced} & {o.name for o in warm}
        traced = sum(o.latency for o in self.traced if o.name in names)
        plain = sum(o.latency for o in warm if o.name in names)
        return traced / plain - 1.0 if plain else 0.0

    def layer_lines(self) -> list[str]:
        """Every span name of the traced ops with its busy time, self time
        and the Spark work attributed to it."""
        traced = {o.id for o in self.traced}
        lines = []
        for name in sorted({s.name for s in self.tr.spans if s.op_id in traced}):
            ss = self._spans(name)
            c = lambda key: median(self.tr.span_counter(s, key) for s in ss)  # noqa: E731
            lines.append(
                f"layer {name}: n={len(ss)} dur_p50_s={median(s.dur for s in ss):.4f} "
                f"self_p50_s={median(self.tr.self_time(s) for s in ss):.4f} "
                f"jobs={median(len(s.jobs) for s in ss):g} tasks={c('tasks'):g} "
                f"input_bytes={c('input_bytes'):g} shuffle_bytes={c('shuffle_write_bytes'):g} "
                f"spill_bytes={c('spill_bytes'):g}")
        return lines

    def per_layer(self) -> dict:
        """Every per-layer metric of ``PER_LAYER_UNITS``, from the traced
        ops; those of layers this workload never calls are 0."""
        wl, tr = self.wl, self.tr
        dur = lambda name: median(s.dur for s in self._spans(name))  # noqa: E731
        jobs = lambda name: median(len(s.jobs) for s in self._spans(name))  # noqa: E731
        vals = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        vals.update({
            "session.get_spark_s": median(self.spark_s),
            "peak_rss_mb": self.peak_mb,
            "spark.gc_s": self.gc_s,
            "spark.core_busy_ratio": self._core_busy(),
            "spark.jobs_per_op": sum(self._op_jobs(o) for o in self.traced) / max(len(self.traced), 1),
            "trace.overhead_ratio": self.overhead(),
        })
        if wl.name == "lake":
            ingest = [o for o in self.traced if o.kind in ("load", "merge", "compact")]
            written = sum(self._op_counter(o, "output_bytes") for o in ingest)
            read = sum(wl.load_input_bytes if o.kind == "load" else
                       wl.batch_input_bytes if o.kind == "merge" else 0 for o in ingest)
            queries = [o for o in self.traced if o.kind == "query"]
            vals.update({
                "etl.run_data_lake_s": dur("etl.run_data_lake"),
                "etl.rows_kept_ratio": wl.rows_kept_ratio,
                "io.merge_by_key_s": dur("io.merge_by_key"),
                "io.compact_parquet_s": dur("io.compact_parquet"),
                "io.bytes_written_per_input_byte": written / max(read, 1),
                "io.lake_files": median(wl.lake_files),
                "io.scan_input_bytes": median(self._op_counter(o, "input_bytes") for o in queries),
            })
            for layer, fields in _QUERY_LAYER_FIELDS.items():
                lo = [o for o in queries if any(c.name == f"{layer}.build"
                                                for c in tr.children(self.op_spans[o.id]))]
                layer_vals = {
                    "build_s": dur(f"{layer}.build"),
                    "exec_s": dur(f"{layer}.exec"),
                    "build_jobs": jobs(f"{layer}.build"),
                    "jobs": median(self._op_jobs(o) for o in lo),
                    "tasks": median(self._op_counter(o, "tasks") for o in lo),
                    "shuffle_bytes": median(self._op_counter(o, "shuffle_write_bytes") for o in lo),
                    "spill_bytes": median(self._op_counter(o, "spill_bytes") for o in lo),
                }
                vals.update({f"{layer}.{f}": layer_vals[f] for f in fields})
        else:
            r = wl.route
            vals.update({
                "llm.ann.prepare_ann_route_s": median(wl.prepare_s),
                "llm.ann.route.tier": ROUTE_TIERS.index(r.tier),
                "llm.ann.route.n_cells": 0 if r.centroids is None else len(r.centroids),
                "llm.ann.route.n_probe": r.probe.n_probe if r.probe else 0,
                "llm.ann.ann_topk_auto_build_s": dur("llm.ann.ann_topk_auto.build"),
                "llm.ann.ann_topk_auto_exec_s": dur("llm.ann.ann_topk_auto.exec"),
                "llm.search.ann_search_build_s": dur("llm.search.ann_search.build"),
                "llm.search.ann_search_exec_s": dur("llm.search.ann_search.exec"),
                "llm.search.ann_search_build_jobs": jobs("llm.search.ann_search.build"),
                "llm.minhash.minhash_near_dup_pairs_s":
                    median(o.latency for o in self.traced if o.kind == "dedup"),
                "llm.minhash.candidates": wl.candidates,
                "llm.minhash.verified_ratio": median(wl.pairs_out) / max(wl.candidates, 1),
            })
        return {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in vals.items()}

    # -- printing ------------------------------------------------------------

    def report_lines(self, traced: bool) -> list[str]:
        lines = [f"workload: {self.wl.name} latency_op={self.wl.latency_kind} "
                 f"ops={len(self.tr.ops)} loop_s={self.loop_s:.3f}"]
        for r in sorted({o.round for o in self.tr.ops}):
            ops = [o for o in self.tr.ops if o.round == r]
            lines.append(f"round {r}: ops={len(ops)} op_s={sum(o.latency for o in ops):.3f} "
                         f"steal_share_p50={median(o.steal for o in ops):.4f}")
        for name, v, unit, note in self.named():
            lines.append(f"metric {name} = {v:.6g} {unit}  ({note})")
        for name in dict.fromkeys(o.name for o in self.tr.ops):
            lat = [o.latency for o in self.tr.ops if o.name == name]
            lines.append(f"op {name}: n={len(lat)} p50_s={median(lat):.4f} max_s={max(lat):.4f}")
        if traced:
            lines += self.layer_lines()
            if self.wl.name == "llm_curation":
                lines.append(f"per_layer llm.ann.route = tier {self.wl.route.tier}")
            for name, m in self.per_layer().items():
                lines.append(f"per_layer {name} = {m['value']:.6g} {m['unit']}")
        return lines
