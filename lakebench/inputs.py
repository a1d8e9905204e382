"""Seeded input generation for the lakehouse benchmark.

Every input a workload reads is derived from one ``--seed``: the
caso_full-shaped CSV and the IBGE nested JSON of the reference DAG, the
daily correction batches, a TPC-H-shaped star schema for the relational
registry specs, and the LLM-curation corpora (documents with planted
near-duplicates, a clustered embedding corpus, query vectors). Files are
cached under ``.bench_cache/<kind>-s<seed>-<size>/`` in the checkout, so a
repeated seed reuses them; generation time is reported apart from the
program's set-up time.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

RATE = "last_available_confirmed_per_100k_inhabitants"

# (uf id, sigla, nome, regiao id, regiao sigla, regiao nome): five regiões,
# two UFs each, so group-bys and joins on both levels have selectivity.
UFS = [
    (35, "SP", "São Paulo", 3, "SE", "Sudeste"),
    (33, "RJ", "Rio de Janeiro", 3, "SE", "Sudeste"),
    (29, "BA", "Bahia", 2, "NE", "Nordeste"),
    (26, "PE", "Pernambuco", 2, "NE", "Nordeste"),
    (43, "RS", "Rio Grande do Sul", 4, "S", "Sul"),
    (41, "PR", "Paraná", 4, "S", "Sul"),
    (13, "AM", "Amazonas", 1, "N", "Norte"),
    (15, "PA", "Pará", 1, "N", "Norte"),
    (52, "GO", "Goiás", 5, "CO", "Centro-Oeste"),
    (51, "MT", "Mato Grosso", 5, "CO", "Centro-Oeste"),
]

COVID_COLUMNS = [
    ("city", "string"),
    ("city_ibge_code", "bigint"),
    ("date", "date"),
    ("epidemiological_week", "int"),
    ("estimated_population", "bigint"),
    ("estimated_population_2019", "bigint"),
    ("is_last", "boolean"),
    ("is_repeated", "boolean"),
    ("last_available_confirmed", "int"),
    (RATE, "string"),
    ("last_available_date", "date"),
    ("last_available_death_rate", "double"),
    ("last_available_deaths", "int"),
    ("order_for_place", "int"),
    ("place_type", "string"),
    ("state", "string"),
    ("new_confirmed", "int"),
    ("new_deaths", "int"),
]

# Sizes are fixed per workload so that one run of each fits the run length
# on a 4-core box; the size tag is part of the cache key.
COVID_SIZE = {"cities": 240, "days": 60}
BATCH_CORRECTIONS = 24
TPCH_SIZE = {"customers": 1500, "orders": 15000, "lineitems_per_order": 4, "events": 10000}
CURATION_SIZE = {"docs": 2000, "dup_share": 0.1, "vectors": 4608, "dim": 32,
                 "clusters": 24, "query_batch": 64}
# cluster spread: tight enough that the ANN router reads every seed's
# corpus as clustered and takes the same (ivf) tier
_NOISE = 0.15

_EPOCH = dt.date(2020, 3, 1)


def _cache_dir(root: Path, kind: str, seed: int, size: dict) -> tuple[Path, bool]:
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    d = root / ".bench_cache" / f"{kind}-s{seed}-{tag}"
    return d, (d / "DONE").exists()


def _finish(d: Path) -> None:
    (d / "DONE").write_text("ok\n")


def _fresh(d: Path) -> None:
    if d.exists():
        shutil.rmtree(d)
    d.mkdir(parents=True)


# ---------------------------------------------------------------------------
# lake inputs: caso_full CSV, IBGE JSON, daily batches
# ---------------------------------------------------------------------------


def _cities(rng: np.random.Generator, n: int) -> pd.DataFrame:
    uf_idx = np.arange(n) % len(UFS)
    rng.shuffle(uf_idx)
    codes, names = [], []
    for i, u in enumerate(uf_idx):
        uf_id = UFS[u][0]
        codes.append(uf_id * 100000 + 1000 + i * 7)
        names.append(f"Município {i:04d}" if i % 3 else f"Cidade {i:04d}")
    pop = rng.integers(5_000, 2_000_000, n)
    return pd.DataFrame({
        "uf": uf_idx, "code": np.array(codes, dtype=np.int64), "name": names, "pop": pop,
    })


def _rate_strings(rng: np.random.Generator, rate: np.ndarray) -> list:
    """Contaminate the per-100k rate like caso_full: ``''`` (quoted empty),
    ``' '`` and empty fields next to ordinary doubles."""
    out = []
    r = rng.random(len(rate))
    for v, x in zip(rate, r):
        if x < 0.04:
            out.append(None)  # empty field
        elif x < 0.07:
            out.append(" ")
        elif x < 0.09:
            out.append("")
        else:
            out.append(f"{v:.3f}")
    return out


def _place_rows(rng, cities: pd.DataFrame, days: range, confirmed: np.ndarray,
                deaths: np.ndarray, is_last_day: int | None) -> pd.DataFrame:
    """Rows for every city on ``days``; ``confirmed``/``deaths`` hold the
    running totals before the first day and are advanced in place."""
    frames = []
    for d in days:
        new_c = rng.poisson(6, len(cities))
        new_d = rng.binomial(new_c, 0.03)
        confirmed += new_c
        deaths += new_d
        date = _EPOCH + dt.timedelta(days=d)
        iso = date.isocalendar()
        rate = confirmed * 100_000 / cities["pop"].to_numpy()
        frames.append(pd.DataFrame({
            "city": cities["name"].to_numpy(),
            "city_ibge_code": cities["code"].to_numpy(),
            "date": date.isoformat(),
            "epidemiological_week": iso[0] * 100 + iso[1],
            "estimated_population": cities["pop"].to_numpy(),
            "estimated_population_2019": (cities["pop"].to_numpy() * 0.99).astype(np.int64),
            "is_last": d == is_last_day,
            "is_repeated": False,
            "last_available_confirmed": confirmed.copy(),
            RATE: _rate_strings(rng, rate),
            "last_available_date": date.isoformat(),
            "last_available_death_rate": np.round(deaths / np.maximum(confirmed, 1), 4),
            "last_available_deaths": deaths.copy(),
            "order_for_place": d + 1,
            "place_type": "city",
            "state": [UFS[u][1] for u in cities["uf"]],
            "new_confirmed": new_c,
            "new_deaths": new_d,
        }))
    return pd.concat(frames, ignore_index=True)


def _state_rows(rows: pd.DataFrame) -> pd.DataFrame:
    """State-level rows (null city and code) — the rows the DAG drops."""
    agg = rows.groupby(["state", "date"], as_index=False).agg(
        last_available_confirmed=("last_available_confirmed", "sum"),
        last_available_deaths=("last_available_deaths", "sum"),
        new_confirmed=("new_confirmed", "sum"),
        new_deaths=("new_deaths", "sum"),
        epidemiological_week=("epidemiological_week", "first"),
        order_for_place=("order_for_place", "first"),
        is_last=("is_last", "first"),
    )
    agg["city"] = None
    agg["city_ibge_code"] = None
    agg["place_type"] = "state"
    agg["is_repeated"] = False
    agg["estimated_population"] = None
    agg["estimated_population_2019"] = None
    agg["last_available_date"] = agg["date"]
    agg["last_available_death_rate"] = np.round(
        agg["last_available_deaths"] / np.maximum(agg["last_available_confirmed"], 1), 4)
    agg[RATE] = "1.000"
    return agg[[c for c, _ in COVID_COLUMNS]]


def _write_covid_csv(df: pd.DataFrame, path: Path) -> None:
    # pandas writes None as an empty field and "" as a quoted empty string
    # only with QUOTE_NONNUMERIC-style quoting of that one column, so the
    # rate column is quoted by hand: None -> empty field, '' -> "".
    df = df.copy()
    df[RATE] = [("" if v is None else f'"{v}"') for v in df[RATE]]
    df["city_ibge_code"] = df["city_ibge_code"].astype("Int64")
    df["estimated_population"] = df["estimated_population"].astype("Int64")
    df["estimated_population_2019"] = df["estimated_population_2019"].astype("Int64")
    df.to_csv(path, index=False, quoting=3, escapechar="\\", na_rep="")


def _ibge_record(code: int, name: str, u: int, i: int) -> dict:
    uf_id, sigla, uf_nome, reg_id, reg_sigla, reg_nome = UFS[u]
    uf = {"id": uf_id, "sigla": sigla, "nome": uf_nome,
          "regiao": {"id": reg_id, "sigla": reg_sigla, "nome": reg_nome}}
    micro = uf_id * 1000 + 61 + i % 5
    meso = uf_id * 100 + 15 + i % 3
    imed = uf_id * 10000 + 1 + i % 4
    inter = uf_id * 100 + 1 + i % 2
    return {
        "id": int(code),
        "nome": name,
        "microrregiao": {"id": micro, "nome": f"Micro {micro}",
                          "mesorregiao": {"id": meso, "nome": f"Meso {meso}", "UF": uf}},
        "regiao-imediata": {"id": imed, "nome": f"Imediata {imed}",
                            "regiao-intermediaria": {"id": inter, "nome": f"Intermediária {inter}",
                                                     "UF": uf}},
    }


class LakeInputs:
    """caso_full CSV + IBGE JSON (+ the daily batches, made on demand)."""

    def __init__(self, root: Path, seed: int):
        self.seed = seed
        self.dir, hit = _cache_dir(root, "lake", seed, COVID_SIZE)
        self.covid_csv = self.dir / "caso_full.csv"
        self.ibge_json = self.dir / "ibge_municipios.json"
        self.probes = self.dir / "probes.parquet"
        t0 = time.perf_counter()
        if not hit:
            self._generate()
        self.gen_s = time.perf_counter() - t0
        self.cache_hit = hit
        meta = json.loads((self.dir / "meta.json").read_text())
        self.codes = np.array(meta["codes"], dtype=np.int64)
        self.days = meta["days"]
        self.rows = meta["rows"]

    def _generate(self) -> None:
        _fresh(self.dir)
        rng = np.random.default_rng([self.seed, 1])
        cities = _cities(rng, COVID_SIZE["cities"])
        days = COVID_SIZE["days"]
        confirmed = rng.integers(0, 50, len(cities)).astype(np.int64)
        deaths = np.zeros(len(cities), dtype=np.int64)
        # advances confirmed/deaths to the last day's totals, where the
        # daily batches continue the series
        rows = _place_rows(rng, cities, range(days), confirmed, deaths, days - 1)
        full = pd.concat([rows, _state_rows(rows)], ignore_index=True)
        full = full.sample(frac=1.0, random_state=int(rng.integers(2**31))).reset_index(drop=True)
        _write_covid_csv(full, self.covid_csv)
        recs = [_ibge_record(c, n, u, i) for i, (c, n, u) in
                enumerate(zip(cities["code"], cities["name"], cities["uf"]))]
        self.ibge_json.write_text(json.dumps(recs, ensure_ascii=False))
        # as-of probes: (city, timestamp) pairs spread over the covered days
        n_probe = 4 * len(cities)
        pc = rng.choice(cities["code"].to_numpy(), n_probe)
        off = rng.integers(0, days * 24 * 3600 + 3 * 24 * 3600, n_probe)
        base = pd.Timestamp(_EPOCH)
        pq.write_table(pa.table({
            "probe_id": np.arange(n_probe, dtype=np.int64),
            "city_ibge_code": pc.astype(np.int64),
            "probe_ts": (base + pd.to_timedelta(off, unit="s")).to_numpy().astype("datetime64[us]"),
        }), self.probes)
        (self.dir / "meta.json").write_text(json.dumps({
            "codes": cities["code"].tolist(),
            "pop": cities["pop"].tolist(),
            "uf": cities["uf"].tolist(),
            "names": cities["name"].tolist(),
            "confirmed": confirmed.tolist(),
            "deaths": deaths.tolist(),
            "days": days,
            "rows": len(full),
        }))
        _finish(self.dir)

    def batch(self, i: int) -> Path:
        """Daily batch ``i``: every city on the next date, ``BATCH_CORRECTIONS``
        corrected rows of earlier dates, and the state rows of the new day.
        Batches build on each other's running totals, so they are made in
        order and cached."""
        path = self.dir / f"batch_{i:04d}.csv"
        if path.exists():
            return path
        if i > 0:
            self.batch(i - 1)
        meta = json.loads((self.dir / "meta.json").read_text())
        state_f = self.dir / "batch_state.json"
        st = json.loads(state_f.read_text()) if i > 0 else {
            "confirmed": meta["confirmed"], "deaths": meta["deaths"]}
        rng = np.random.default_rng([self.seed, 2, i])
        cities = pd.DataFrame({"uf": meta["uf"], "code": meta["codes"],
                               "name": meta["names"], "pop": meta["pop"]})
        confirmed = np.array(st["confirmed"], dtype=np.int64)
        deaths = np.array(st["deaths"], dtype=np.int64)
        day = self.days + i
        new =_place_rows(rng, cities, range(day, day + 1), confirmed, deaths, day)
        pick = rng.integers(0, len(cities), BATCH_CORRECTIONS)
        corr_days = rng.integers(0, day, BATCH_CORRECTIONS)
        corr = new.iloc[pick].copy().reset_index(drop=True)
        for j, d in enumerate(corr_days):
            date = (_EPOCH + dt.timedelta(days=int(d))).isoformat()
            corr.loc[j, "date"] = date
            corr.loc[j, "last_available_date"] = date
            corr.loc[j, "order_for_place"] = int(d) + 1
            corr.loc[j, "is_last"] = False
        corr["last_available_confirmed"] = rng.integers(0, 10_000, len(corr))
        corr["new_confirmed"] = rng.integers(-5, 50, len(corr))
        corr = corr.drop_duplicates(["city_ibge_code", "date"])
        out = pd.concat([new, corr, _state_rows(new)], ignore_index=True)
        _write_covid_csv(out, path)
        state_f.write_text(json.dumps({"confirmed": confirmed.tolist(), "deaths": deaths.tolist()}))
        return path


# ---------------------------------------------------------------------------
# TPC-H-shaped star schema for the relational registry specs
# ---------------------------------------------------------------------------


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


class TpchInputs:
    """The ten tables of the repo's test data (same schemas, TESTDATA.md),
    seeded and smaller, written as parquet under one directory the
    registry specs read."""

    def __init__(self, root: Path, seed: int):
        self.dir, hit = _cache_dir(root, "tpch", seed, TPCH_SIZE)
        t0 = time.perf_counter()
        if not hit:
            _fresh(self.dir)
            self._generate(np.random.default_rng([seed, 3]))
            _finish(self.dir)
        self.gen_s = time.perf_counter() - t0
        self.cache_hit = hit

    def _w(self, name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), self.dir / f"{name}.parquet")

    def _generate(self, rng: np.random.Generator) -> None:
        s = TPCH_SIZE
        regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        self._w("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": regions})
        self._w("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
        nc = s["customers"]
        segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
        self._w("customer", {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999, 9999, nc),
            "c_mktsegment": segs[rng.integers(0, 5, nc)],
        })
        ns = 100
        self._w("supplier", {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999, 9999, ns),
        })
        npart = 2000
        self._w("part", {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(npart)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 55, npart)],
            "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[rng.integers(0, 4, npart)],
            "p_size": pa.array(rng.integers(1, 50, npart), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(npart) * 0.1, 2),
        })
        no = s["orders"]
        start = np.datetime64("1995-01-01T00:00:00", "us")
        day = np.timedelta64(86_400_000_000, "us")
        odays = rng.integers(0, 2404, no)
        self._w("orders", {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": start + odays * day,
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                         "5-LOW"])[rng.integers(0, 5, no)],
        })
        per = s["lineitems_per_order"]
        nl = no * per
        lok = np.repeat(np.arange(no, dtype=np.int64), per)
        self._w("lineitem", {
            "l_orderkey": lok,
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": pa.array(np.tile(np.arange(1, per + 1), no), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
            "l_shipdate": start + (np.repeat(odays, per) + rng.integers(1, 120, nl)) * day,
        })
        ne = s["events"]
        ts0 = np.datetime64("2024-01-01T00:00:00", "us")
        gaps = rng.integers(1_000_000, 520_000_000, ne)
        self._w("events", {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": ts0 + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": rng.integers(0, nc + 50, ne).astype(np.int64),
            "event_type": np.array(["view", "click", "purchase", "error", "share"])[rng.integers(0, 5, ne)],
            "value": _money(rng, 0.01, 490, ne),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        })
        # no spec of the mix reads these two, but sql.sql registers every
        # test table as a view before running a statement
        words = np.array("spark lake query table scan join batch stream value key".split())
        nd = 500
        texts = [" ".join(words[rng.integers(0, len(words), int(m))]) for m in rng.integers(5, 40, nd)]
        self._w("documents", {
            "doc_id": np.arange(nd, dtype=np.int64), "text": texts,
            "lang": ["en"] * nd, "source": [f"src{i % 7}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
        vecs = rng.standard_normal((nd, 16)).astype(np.float32)
        self._w("embeddings", {
            "vec_id": np.arange(nd, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 5, nd), pa.int32()),
        })


# ---------------------------------------------------------------------------
# LLM-curation corpora
# ---------------------------------------------------------------------------


class CurationInputs:
    """Documents with planted near-duplicates, a clustered embedding corpus
    larger than the ANN exact tier, and batches of query vectors."""

    def __init__(self, root: Path, seed: int):
        self.seed = seed
        self.dir, hit = _cache_dir(root, "curation", seed, CURATION_SIZE)
        self.docs = self.dir / "docs.parquet"
        self.vectors = self.dir / "vectors.parquet"
        t0 = time.perf_counter()
        if not hit:
            _fresh(self.dir)
            self._generate()
            _finish(self.dir)
        self.gen_s = time.perf_counter() - t0
        self.cache_hit = hit
        meta = json.loads((self.dir / "meta.json").read_text())
        self.planted = [tuple(p) for p in meta["planted"]]
        self.centers = np.array(meta["centers"], dtype=np.float64)

    def _generate(self) -> None:
        c = CURATION_SIZE
        rng = np.random.default_rng([self.seed, 4])
        vocab = np.array([f"w{i}" for i in range(5000)])
        n = c["docs"]
        n_dup = int(n * c["dup_share"])
        n_base = n - n_dup
        base = [vocab[rng.integers(0, len(vocab), int(m))] for m in rng.integers(40, 90, n_base)]
        docs = list(base)
        planted = []
        for j, src in enumerate(rng.integers(0, n_base, n_dup)):
            toks = base[src].copy()
            # one substituted token: Jaccard stays well above 0.8
            toks[rng.integers(0, len(toks))] = vocab[rng.integers(0, len(vocab))]
            docs.append(toks)
            planted.append((int(src), n_base + j))
        order = rng.permutation(n)  # doc ids are the shuffled positions
        ids = np.empty(n, dtype=np.int64)
        ids[order] = np.arange(n)
        pq.write_table(pa.table({
            "doc_id": ids,
            "text": [" ".join(t) for t in docs],
        }), self.docs)
        planted = [(int(min(ids[a], ids[b])), int(max(ids[a], ids[b]))) for a, b in planted]

        d, k, nv = c["dim"], c["clusters"], c["vectors"]
        centers = rng.standard_normal((k, d))
        lab = rng.integers(0, k, nv)
        vec = centers[lab] + _NOISE * rng.standard_normal((nv, d))
        pq.write_table(pa.table({
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        }), self.vectors)
        (self.dir / "meta.json").write_text(json.dumps({
            "planted": planted, "centers": centers.tolist()}))

    def query_batch(self, i: int) -> np.ndarray:
        """Query batch ``i``: vectors near the corpus clusters, float32."""
        rng = np.random.default_rng([self.seed, 5, i])
        c = CURATION_SIZE
        lab = rng.integers(0, len(self.centers), c["query_batch"])
        q = self.centers[lab] + _NOISE * rng.standard_normal((c["query_batch"], c["dim"]))
        return q.astype(np.float32)
