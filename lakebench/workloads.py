"""The benchmark's two workloads: ``lake`` and ``llm_curation``.

Each workload is a closed loop of rounds run by one client thread. A
round is a fixed mix of ops in a fixed order; the loop only stops at a
round boundary, so every run measures the same mix (a warm-up round may
be shorter). An op is a ``(kind, call, check, items, name)`` tuple:
``call`` runs inside the op timer and returns what the user gets back,
``check`` runs untimed and returns ``None`` or the reason the result is
wrong, ``items`` counts the rows, documents or vectors it processed.
``latency_kind`` names the op kind whose latency the end-to-end
percentiles describe.
"""

from __future__ import annotations

import inspect
import shutil
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.types import (
    BooleanType, DateType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

import inputs
from inputs import RATE
from spans import median

_TYPES = {"string": StringType(), "bigint": LongType(), "int": IntegerType(),
          "date": DateType(), "boolean": BooleanType(), "double": DoubleType()}
COVID_SCHEMA = StructType([StructField(c, _TYPES[t]) for c, t in inputs.COVID_COLUMNS])

# DuckDB twin of etl.covid_pipeline's row semantics: null-city rows dropped,
# the contaminated rate coerced to double with blanks/junk/NaN -> 0.0
_DUCK_CLEAN = f"""
    SELECT * REPLACE (
        COALESCE(CASE WHEN isnan(TRY_CAST(NULLIF(TRIM({RATE}), '') AS DOUBLE)) THEN NULL
                      ELSE TRY_CAST(NULLIF(TRIM({RATE}), '') AS DOUBLE) END, 0.0) AS {RATE})
    FROM read_csv('{{path}}', header=true, quote='"', escape='\\',
                  columns={{columns}})
    WHERE city IS NOT NULL AND city_ibge_code IS NOT NULL
"""
_DUCK_TYPES = {"string": "VARCHAR", "bigint": "BIGINT", "int": "INTEGER", "date": "DATE",
               "boolean": "BOOLEAN", "double": "DOUBLE"}
_DUCK_COLUMNS = "{" + ", ".join(f"'{c}': '{_DUCK_TYPES[t]}'" for c, t in inputs.COVID_COLUMNS) + "}"

# per-state fingerprint of the lake: counts plus exact integer sums
_STATE_AGG = f"""
    SELECT state, COUNT(*) AS n_rows,
           CAST(SUM(last_available_confirmed) AS BIGINT) AS confirmed,
           CAST(SUM(new_confirmed) AS BIGINT) AS new_confirmed,
           CAST(SUM(CAST(ROUND({RATE} * 1000) AS BIGINT)) AS BIGINT) AS rate_milli,
           COUNT(DISTINCT date) AS n_dates
    FROM {{table}} GROUP BY state
"""

REGIAO = "microrregiao.mesorregiao.UF.regiao.nome"

LAKE_SQL = {
    "sql_weekly_state_rollup": """
        SELECT state, epidemiological_week,
               CAST(SUM(new_confirmed) AS BIGINT) AS new_confirmed,
               CAST(SUM(new_deaths) AS BIGINT) AS new_deaths,
               CAST(MAX(last_available_confirmed) AS BIGINT) AS max_confirmed,
               COUNT(*) AS n_rows
        FROM covid GROUP BY state, epidemiological_week""",
    "sql_regiao_join": f"""
        SELECT m.`{REGIAO}` AS regiao,
               COUNT(DISTINCT c.city_ibge_code) AS n_cities,
               CAST(SUM(c.new_confirmed) AS BIGINT) AS new_confirmed,
               CAST(SUM(CAST(ROUND(c.{RATE} * 1000) AS BIGINT)) AS BIGINT) AS rate_milli
        FROM covid c JOIN municipios m ON c.city_ibge_code = m.id
        GROUP BY m.`{REGIAO}`""",
    "sql_top_cities_by_rate": f"""
        SELECT city_ibge_code, city, state, {RATE} AS rate
        FROM covid WHERE date = (SELECT MAX(date) FROM covid)
        ORDER BY rate DESC, city_ibge_code LIMIT 10""",
}

# DuckDB twins of the operator calls
OPERATOR_ORACLE = {
    "op_running_sum": """
        SELECT city_ibge_code, date, new_confirmed,
               CAST(SUM(new_confirmed) OVER (PARTITION BY city_ibge_code ORDER BY date
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_confirmed
        FROM covid""",
    "op_top_k_per_group": f"""
        SELECT state, city_ibge_code, date, {RATE}, rn FROM (
          SELECT state, city_ibge_code, date, {RATE},
                 ROW_NUMBER() OVER (PARTITION BY state ORDER BY {RATE} DESC,
                                    city_ibge_code, date DESC) AS rn
          FROM covid) WHERE rn <= 3""",
    "op_asof_join": """
        SELECT p.probe_id, p.city_ibge_code,
               (SELECT c.last_available_confirmed FROM covid c
                 WHERE c.city_ibge_code = p.city_ibge_code
                   AND CAST(c.date AS TIMESTAMP) <= p.probe_ts
                 ORDER BY c.date DESC LIMIT 1) AS asof_last_available_confirmed
        FROM probes p""",
}

REGISTRY_SPECS = [
    "agg_groupby_pricing", "join_inner_revenue", "agg_count_distinct", "win_running_sum",
    "top_k_orders", "join_asof", "filter_correlated_subquery", "scd2_dimension_build",
    "stream_static_enrich",
]


def _duck_clean(path: Path) -> str:
    return _DUCK_CLEAN.format(path=path, columns=_DUCK_COLUMNS)


def _compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    from etl_covid19_brasil_spark.oracle import compare_frames

    ok, detail = compare_frames(got, want)
    return None if ok else detail


def _scan_covid(spark, path: Path):
    from etl_covid19_brasil_spark.io import scan_csv

    return scan_csv(spark, str(path), schema=COVID_SCHEMA)


class Workload:
    name = ""
    latency_kind = ""
    # rounds run, checked and counted in ``attempted``/``failed`` but left
    # out of the end-to-end figures: they pay the JVM's first-run costs
    WARMUP_ROUNDS = 0
    MIN_ROUNDS = 1

    def __init__(self, root: Path, seed: int, tr):
        self.root, self.seed, self.tr = root, seed, tr
        self.work = root / ".bench_work" / f"{self.name}-s{seed}"

    def generate(self) -> float:
        """Make or load the inputs; returns generation seconds."""
        raise NotImplementedError

    def setup(self, spark) -> None:
        """The program's own set-up after ``get_spark`` (timed)."""
        self.spark = spark

    def prepare(self) -> None:
        """Untimed: expected results for the checks."""

    def round(self, rnd: int) -> list:
        raise NotImplementedError

    def finish(self) -> None:
        """Untimed: workload-specific read-outs after the loop."""

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


# ---------------------------------------------------------------------------
# lake
# ---------------------------------------------------------------------------


class Lake(Workload):
    """The reference DAG and the queries its lake exists for. Each round
    lands a fresh parquet lake with ``etl.run_data_lake`` (caso_full CSV +
    IBGE JSON), merges ``BATCHES`` daily batches (a new date plus
    corrections) with ``io.merge_by_key`` on (city_ibge_code, date),
    compacts with ``io.compact_parquet`` and publishes the lake as views,
    then runs the analyst mix (twice in a timed round): lake SQL through
    ``sql.sql``, operator calls over the lake, and relational registry
    specs over a seeded TPC-H-shaped schema. Every round ends in the same
    lake state, so the query results are checked against one set of
    expectations."""

    name = "lake"
    latency_kind = "query"
    # round 0 runs on a cold JVM (its first queries take up to three times
    # their warm latency); a timed round runs the analyst mix twice, so its
    # 30 query latencies put the tail at p66 (ten samples beyond it)
    WARMUP_ROUNDS = 1
    MIN_ROUNDS = 2
    QUERY_PASSES = 2
    BATCHES = 2
    KEYS = ["city_ibge_code", "date"]

    def generate(self) -> float:
        t0 = time.perf_counter()
        self.inp = inputs.LakeInputs(self.root, self.seed)
        self.batches = [self.inp.batch(i) for i in range(self.BATCHES)]
        self.tpch = inputs.TpchInputs(self.root, self.seed)
        return time.perf_counter() - t0

    def prepare(self) -> None:
        """DuckDB replays the DAG and the merges on the same files, then
        runs the twin of every query over its own replay."""
        from etl_covid19_brasil_spark import registry
        from etl_covid19_brasil_spark.oracle import duckdb_connection

        con = duckdb.connect()
        con.execute(f"CREATE TABLE covid AS {_duck_clean(self.inp.covid_csv)}")
        self.expect_state = [con.execute(_STATE_AGG.format(table="covid")).fetchdf()]
        self.batch_rows = []
        for b in self.batches:
            con.execute(f"CREATE OR REPLACE TEMP TABLE batch AS {_duck_clean(b)}")
            con.execute("DELETE FROM covid USING batch WHERE covid.city_ibge_code = "
                        "batch.city_ibge_code AND covid.date = batch.date")
            con.execute("INSERT INTO covid SELECT * FROM batch")
            self.expect_state.append(con.execute(_STATE_AGG.format(table="covid")).fetchdf())
            self.batch_rows.append(con.execute(
                f"SELECT COUNT(*) FROM read_csv('{b}', header=true, all_varchar=true)").fetchone()[0])
        con.execute(f"""CREATE VIEW municipios AS SELECT id,
            microrregiao.mesorregiao.UF.regiao.nome AS "{REGIAO}"
            FROM read_json('{self.inp.ibge_json}')""")
        con.execute(f"CREATE VIEW probes AS SELECT * FROM '{self.inp.probes}'")
        self.expect = {n: con.execute(q.replace("`", '"')).fetchdf() for n, q in LAKE_SQL.items()}
        self.expect.update({n: con.execute(q).fetchdf() for n, q in OPERATOR_ORACLE.items()})
        con.close()
        specs = registry.all_specs()
        self.specs = {n: specs[n] for n in REGISTRY_SPECS}
        con = duckdb_connection(str(self.tpch.dir))
        self.expect.update({n: con.execute(s.oracle).fetchdf() for n, s in self.specs.items()})
        con.close()
        self.load_input_bytes = self.inp.covid_csv.stat().st_size + self.inp.ibge_json.stat().st_size
        self.batch_input_bytes = median(b.stat().st_size for b in self.batches)
        self.landed, self.lake_files = [], []

    def finish(self) -> None:
        self.rows_kept_ratio = median(self.landed)

    def _lake_check(self, path: Path, step: int):
        """The landed parquet, read back by DuckDB, against DuckDB's replay
        of the CSV and the batches up to ``step``."""
        self.lake_files.append(len(list(path.glob("*.parquet"))))
        table = f"read_parquet('{path}/*.parquet')"
        got = duckdb.connect().execute(_STATE_AGG.format(table=table)).fetchdf()
        return _compare(got, self.expect_state[step])

    def _ingest_ops(self, rnd: int) -> list:
        from etl_covid19_brasil_spark import etl
        from etl_covid19_brasil_spark.io import compact_parquet, merge_by_key, scan_json, scan_parquet

        tr, spark = self.tr, self.spark
        shutil.rmtree(self.work, ignore_errors=True)
        lake = self.work / f"lake_r{rnd}"
        covid = lake / "covid"

        def load():
            with tr.span("io.scan"):
                covid_raw = _scan_covid(spark, self.inp.covid_csv)
                ibge_raw = scan_json(spark, str(self.inp.ibge_json))
            with tr.span("etl.run_data_lake"):
                return etl.run_data_lake(covid_raw, ibge_raw, str(lake))

        def check_load(counts):
            self.landed.append(counts["covid"] / self.inp.rows)
            return self._lake_check(covid, 0)

        ops = [("load", load, check_load, self.inp.rows, "run_data_lake")]
        for i, b in enumerate(self.batches):
            def merge(b=b):
                with tr.span("io.scan"):
                    batch = etl.covid_pipeline(_scan_covid(spark, b))
                with tr.span("io.merge_by_key"):
                    merge_by_key(spark, batch, str(covid), self.KEYS)

            ops.append(("merge", merge, lambda _r, i=i: self._lake_check(covid, i + 1),
                        self.batch_rows[i], "merge_by_key"))

        def publish():
            with tr.span("io.compact_parquet"):
                compact_parquet(spark, str(covid), 2)
            with tr.span("sql.register_views"):
                scan_parquet(spark, str(covid)).createOrReplaceTempView("covid")
                scan_parquet(spark, str(lake / "microrregioes")).createOrReplaceTempView("municipios")

        ops.append(("compact", publish, lambda _r: self._lake_check(covid, len(self.batches)),
                    0, "compact_parquet"))
        self.lake = lake
        return ops

    def _query(self, layer: str, name: str, build):
        tr = self.tr

        def call():
            with tr.span(f"{layer}.build"):
                df = build()
            with tr.span(f"{layer}.exec"):
                return df.toPandas()

        return ("query", call, lambda got: _compare(got, self.expect[name]), 1, name)

    def round(self, rnd: int) -> list:
        from etl_covid19_brasil_spark import sql as sql_layer
        from etl_covid19_brasil_spark.io import scan_parquet
        from etl_covid19_brasil_spark.operators.chunked_window import running_sum_auto
        from etl_covid19_brasil_spark.operators.joins import asof_join
        from etl_covid19_brasil_spark.operators.topk import top_k_per_group

        spark, tr = self.spark, self.tr
        ops = self._ingest_ops(rnd)

        def covid():
            with tr.span("io.scan"):
                return scan_parquet(spark, str(self.lake / "covid"))

        mix = [self._query("sql", n, lambda q=q: sql_layer.sql(spark, q)) for n, q in LAKE_SQL.items()]
        mix.append(self._query("operators", "op_running_sum", lambda: running_sum_auto(
            covid().select("city_ibge_code", "date", "new_confirmed"),
            ["city_ibge_code"], ["date"], "new_confirmed", "running_confirmed")))
        mix.append(self._query("operators", "op_top_k_per_group", lambda: top_k_per_group(
            covid().select("state", "city_ibge_code", "date", RATE), ["state"],
            [F.col(RATE).desc(), F.col("city_ibge_code").asc(), F.col("date").desc()], 3)))

        def asof():
            probes = scan_parquet(spark, str(self.inp.probes))
            right = covid().select("city_ibge_code", F.col("date").cast("timestamp").alias("ts"),
                                   "last_available_confirmed")
            out = asof_join(probes, right, on="city_ibge_code", left_ts="probe_ts",
                            right_ts="ts", value_cols=["last_available_confirmed"])
            return out.select("probe_id", "city_ibge_code", "asof_last_available_confirmed")

        mix.append(self._query("operators", "op_asof_join", asof))
        sf = str(self.tpch.dir)
        mix += [self._query("queries", n, lambda s=s: s.spark(spark, sf)) for n, s in self.specs.items()]
        return ops + mix * (self.QUERY_PASSES if rnd >= self.WARMUP_ROUNDS else 1)


# ---------------------------------------------------------------------------
# llm_curation
# ---------------------------------------------------------------------------


def _unit(m: np.ndarray) -> np.ndarray:
    m = m.astype(np.float64)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _exact_topk(q: np.ndarray, x: np.ndarray, k: int, exclude_self: bool) -> tuple:
    """Brute-force cosine top-k (cosine desc, id asc), in row blocks: a
    partition picks each row's k best, and only those are sorted."""
    ids, cos = [], []
    for s in range(0, len(q), 512):
        sims = q[s:s + 512] @ x.T
        if exclude_self:
            sims[np.arange(len(sims)), np.arange(s, s + len(sims))] = -np.inf
        part = np.argpartition(-sims, k - 1, axis=1)[:, :k]
        order = np.lexsort((part, -np.take_along_axis(sims, part, axis=1)))
        top = np.take_along_axis(part, order, axis=1)
        ids.append(top)
        cos.append(np.take_along_axis(sims, top, axis=1))
    return np.vstack(ids), np.vstack(cos)


def _minhash_defaults() -> dict:
    """``minhash_near_dup_pairs``'s own defaults (threshold, num_perms,
    bands), so the checks and the candidate count follow the engine."""
    from etl_covid19_brasil_spark.llm.minhash import minhash_near_dup_pairs

    params = inspect.signature(minhash_near_dup_pairs).parameters
    return {k: params[k].default for k in ("threshold", "num_perms", "bands")}


class LlmCuration(Workload):
    """MinHash near-duplicate detection over documents, ANN self top-k over
    a clustered corpus (route trained in set-up), and batches of
    ``ann_search`` queries against the same corpus.

    Both recall figures are gated: an op whose recall falls below its
    floor fails, so returning fewer pairs or neighbours cannot pass as a
    faster run. At this commit every seed tried gives recall 1.0 on both
    (theory puts a planted pair with Jaccard 0.8 at 0.985 for 8 bands of
    4 rows, and the planted pairs lie above that)."""

    name = "llm_curation"
    latency_kind = "search"
    K = 10
    # 24 search latencies put the tail at p58 (ten samples beyond it). No
    # warm-up round: the route's training in set-up warms the JVM, and a
    # warm-up would cost a tenth of the run.
    SEARCHES = 24
    DEDUP_RECALL_FLOOR = 0.95
    ANN_RECALL_FLOOR = 0.99
    # query vectors are new items: their ids are disjoint from the corpus
    # ids (the search kernels treat an equal id as the item itself)
    QUERY_ID0 = 1 << 40

    def generate(self) -> float:
        self.inp = inputs.CurationInputs(self.root, self.seed)
        self.prepare_s: list[float] = []  # prepare_ann_route, once per set-up
        return self.inp.gen_s

    def setup(self, spark) -> None:
        from etl_covid19_brasil_spark.io import scan_parquet
        from etl_covid19_brasil_spark.llm.ann import prepare_ann_route

        self.spark = spark
        self.corpus = scan_parquet(spark, str(self.inp.vectors))
        t0 = time.perf_counter()
        self.route = prepare_ann_route(self.corpus, n_rows=inputs.CURATION_SIZE["vectors"])
        self.prepare_s.append(time.perf_counter() - t0)

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        vt = pq.read_table(self.inp.vectors)
        self.vec = _unit(np.stack(vt.column("embedding").to_numpy(zero_copy_only=False)))
        self.self_ids, _ = _exact_topk(self.vec, self.vec, self.K, True)
        dt = pq.read_table(self.inp.docs).to_pandas()
        self.tokens = {int(i): set(t.split(" ")) for i, t in zip(dt["doc_id"], dt["text"])}
        self.minhash = _minhash_defaults()
        self.planted = [p for p in self.inp.planted
                        if self._jaccard(*p) >= self.minhash["threshold"]]
        self.dedup_recall, self.ann_recall, self.pairs_out = [], [], []
        self.qbatches = {}
        self.candidates = 0

    def _docs(self):
        from etl_covid19_brasil_spark.io import scan_parquet

        return scan_parquet(self.spark, str(self.inp.docs)).select(
            "doc_id", F.split("text", " ").alias("tokens"))

    def finish(self) -> None:
        """Traced runs only: the LSH candidate count behind the verified
        pairs, built as ``minhash_near_dup_pairs`` builds it with its
        default parameters."""
        if not any(o.traced for o in self.tr.ops):
            return
        from etl_covid19_brasil_spark.llm.minhash import lsh_candidates, minhash_signatures

        perms, bands = self.minhash["num_perms"], self.minhash["bands"]
        toks = self._docs().select("doc_id", F.array_distinct(
            F.transform("tokens", lambda t: F.xxhash64(t))).alias("th"))
        sigs = minhash_signatures(toks, "doc_id", "th", perms, tokens_hashed=True)
        self.candidates = lsh_candidates(sigs, "doc_id", bands, perms // bands).count()

    def _jaccard(self, a: int, b: int) -> float:
        ta, tb = self.tokens[a], self.tokens[b]
        return len(ta & tb) / len(ta | tb)

    def _check_pairs(self, got: pd.DataFrame) -> str | None:
        found = set()
        threshold = self.minhash["threshold"]
        for a, b, j in zip(got["doc_a"], got["doc_b"], got["jaccard"]):
            exact = self._jaccard(int(a), int(b))
            if not (a < b and abs(exact - j) < 1e-12 and j >= threshold):
                return f"pair ({a}, {b}) jaccard {j} vs exact {exact}"
            found.add((int(a), int(b)))
        if len(found) != len(got):
            return "duplicate pairs"
        recall = sum(p in found for p in self.planted) / len(self.planted)
        self.pairs_out.append(len(found))
        self.dedup_recall.append(recall)
        if recall < self.DEDUP_RECALL_FLOOR:
            return f"dedup recall {recall:.4f} below {self.DEDUP_RECALL_FLOOR}"
        return None

    def _check_topk(self, got: pd.DataFrame) -> str | None:
        q = got["query_id"].to_numpy(dtype=np.int64)
        n = got["neighbor_id"].to_numpy(dtype=np.int64)
        if (q == n).any():
            return "self pair in self top-k"
        exact = np.einsum("ij,ij->i", self.vec[q], self.vec[n])
        bad = np.abs(exact - got["cosine"].to_numpy()) > 1e-6
        if bad.any():
            return f"{int(bad.sum())} cosines differ from exact"
        per_id = np.bincount(q, minlength=len(self.vec))
        if len(per_id) != len(self.vec) or (per_id != self.K).any():
            return f"{int((per_id != self.K).sum())} corpus ids without exactly {self.K} neighbours"
        if len(set(zip(q.tolist(), n.tolist()))) != len(got):
            return "duplicate neighbours"
        hit = 0
        truth = {i: set(row) for i, row in enumerate(self.self_ids)}
        for qi, ni in zip(q, n):
            hit += int(ni) in truth[int(qi)]
        recall = hit / (len(self.vec) * self.K)
        self.ann_recall.append(recall)
        if recall < self.ANN_RECALL_FLOOR:
            return f"recall@{self.K} {recall:.4f} below {self.ANN_RECALL_FLOOR}"
        return None

    def _check_search(self, got: pd.DataFrame, b: int) -> str | None:
        qv = _unit(self.qbatches[b])
        ids, cos = _exact_topk(qv, self.vec, self.K, False)
        got = got.sort_values(["query_id", "rank"])
        if not np.array_equal(got["query_id"].to_numpy(),
                              np.repeat(self.QUERY_ID0 + np.arange(len(qv)), self.K)):
            return "query ids differ"
        if len(got) != ids.size:
            return f"{len(got)} rows, want {ids.size}"
        if not np.array_equal(got["neighbor_id"].to_numpy(), ids.ravel()):
            return "neighbours differ from exact top-k"
        if np.abs(got["cosine"].to_numpy() - cos.ravel()).max() > 1e-6:
            return "cosines differ from exact"
        return None

    def round(self, rnd: int) -> list:
        from etl_covid19_brasil_spark.io import scan_parquet
        from etl_covid19_brasil_spark.llm.ann import ann_topk_auto
        from etl_covid19_brasil_spark.llm.minhash import minhash_near_dup_pairs
        from etl_covid19_brasil_spark.llm.search import ann_search

        spark, tr = self.spark, self.tr
        n_docs = inputs.CURATION_SIZE["docs"]

        def dedup():
            with tr.span("llm.minhash.build"):
                df = minhash_near_dup_pairs(self._docs(), "doc_id", "tokens")
            with tr.span("llm.minhash.exec"):
                return df.toPandas()

        def topk():
            with tr.span("llm.ann.ann_topk_auto.build"):
                df = ann_topk_auto(self.corpus, k=self.K, route=self.route)
            with tr.span("llm.ann.ann_topk_auto.exec"):
                return df.toPandas()

        ops = [("dedup", dedup, self._check_pairs, n_docs, "minhash_near_dup_pairs"),
               ("embed_dedup", topk, self._check_topk, len(self.vec), "ann_topk_auto")]
        for s in range(self.SEARCHES):
            b = rnd * self.SEARCHES + s
            qv = self.inp.query_batch(b)
            self.qbatches[b] = qv
            qdf = spark.createDataFrame(pd.DataFrame({
                "vec_id": self.QUERY_ID0 + np.arange(len(qv), dtype=np.int64),
                "embedding": list(qv)}))

            def search(qdf=qdf):
                with tr.span("llm.search.ann_search.build"):
                    df = ann_search(qdf, self.corpus, k=self.K, route=self.route)
                with tr.span("llm.search.ann_search.exec"):
                    return df.toPandas()

            ops.append(("search", search, lambda got, b=b: self._check_search(got, b),
                        len(qv), "ann_search"))
        return ops


WORKLOADS = {w.name: w for w in (Lake, LlmCuration)}
