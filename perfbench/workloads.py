"""The closed-loop workloads: one client, next request after the previous
one completed. ``chat_query`` is one workload; ``ingest_curation`` runs the
medallion upload stage and the corpus curation stage in one round.

Each workload builds its state in ``setup``, hands out operations one
window at a time (``window``), runs one operation in ``run`` (the only
timed call), and checks each output in ``check`` outside the timed
region. ``final_checks`` compares against the DuckDB oracles once the
timed window is over.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

import datagen



@dataclass
class Op:
    cls: str  # request class: lookup / search / sql / ingest / curation
    kind: str
    params: dict = field(default_factory=dict)


@dataclass
class Result:
    output: object
    frames: list  # terminal DataFrames, for Catalyst phase times
    stats: dict = field(default_factory=dict)  # output counts for the trace


def _round6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP on the shortest repr."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _none_nan(v):
    return None if isinstance(v, float) and np.isnan(v) else v


def _oracle(name: str) -> str:
    import __spark_entry__

    return __spark_entry__.oracle_sql()[name]


def _duck(data_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


class _Workload:
    name = ""
    unit = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = np.random.default_rng(ctx.seed)

    def span(self, name, fn, *args, **kwargs):
        return self.ctx.tracer.span(name, fn, *args, **kwargs)

    def collect(self, df) -> list:
        return self.span("driver.action", df.collect)

    def warm_window(self) -> list[Op]:
        return self.window()

    def final_checks(self) -> list[str]:
        return []


# ---------------------------------------------------------------------------
# chat_query
# ---------------------------------------------------------------------------

MEASURES = ("temperature", "salinity", "pressure", "depth")
# The two searches' pre-filter columns, fixed so every deck encodes about
# the same number of summaries: `> median` keeps 35-50% of the floats on
# these, and none on temperature_max, whose values all tie at the median.
SEARCH_FILTERS = ("salinity_max", "depth_max")


class ChatQuery(_Workload):
    """A FloatChat user: the seven lookup helpers, two pre-filtered
    semantic searches and two SQL requests per deck, in seeded order."""

    name = "chat_query"
    unit = "requests"
    K = 5

    def setup(self) -> None:
        from floatchat_datapipeline_spark import api

        self.api = api
        datagen.write_tables(self.ctx.data_dir, self.ctx.seed, self.ctx.sf)
        self.engine = api.FloatChatEngine(self.spark, self.ctx.data_dir)
        self.gold = self.engine.floats.toPandas()
        self.docs = self.engine.summaries.toPandas()
        self._doc_vecs = None

    def _q(self, col: str) -> float:
        """The gold column's median, so every deck's filters keep the
        same share of floats (and the work per request stays fixed)."""
        return float(self.gold[col].median())

    def window(self) -> list[Op]:
        r = self.rng
        lat = float(r.uniform(-60, 40))
        lon = float(r.uniform(-180, 120))
        box = {"lat": (lat, lat + float(r.uniform(5, 20))),
               "lon": (lon, lon + float(r.uniform(10, 60)))}
        day = pd.Timestamp("1999-01-01") + pd.Timedelta(days=int(r.integers(0, 1000)))
        var = str(r.choice(MEASURES))
        ids = sorted(self.gold["float_id"])
        i = int(r.integers(0, len(ids) * 9 // 10))
        texts = [t for ts in self._corpus().values() for t in ts]
        ops = [
            Op("lookup", "geo_box", box),
            Op("lookup", "time_range", {
                "start": str(day.date()),
                "end": str((day + pd.Timedelta(days=int(r.integers(10, 200)))).date()),
            }),
            Op("lookup", "measurement_range", {
                "var": var, "lo": self._q(f"{var}_max"), "hi": self._q(f"{var}_min") + 50,
            }),
            Op("lookup", "extremes", {
                "var": str(r.choice(MEASURES)), "k": int(r.integers(3, 11)),
                "coldest": bool(r.integers(0, 2)),
            }),
            Op("lookup", "depth_query", {"min_pressure": self._q("pressure_max")}),
            Op("lookup", "multi_param", {
                "temperature": (self._q("temperature_max"), None),
                "salinity": (None, self._q("salinity_min") + 1),
            }),
            Op("lookup", "exclude_region", {
                "lat": (lat, lat + 1.0), "lon": (lon, lon + 1.0),
            }),
        ]
        for col in SEARCH_FILTERS:
            ops.append(Op("search", "semantic_search", {
                "text": str(r.choice(texts)), "col": col, "gt": self._q(col),
            }))
        ops.append(Op("sql", "float_metadata", {"sql": (
            "SELECT float_id, total_profiles, temperature_max FROM float_metadata "
            f"WHERE temperature_max > {self._q('temperature_max')!r} "
            f"AND salinity_min < {self._q('salinity_min')!r}"
        )}))
        lo, hi = ids[i], ids[i + len(ids) // 10]
        ops.append(Op("sql", "argo_clean", {"lo": lo, "hi": hi, "sql": (
            "SELECT float_id, count(temperature) AS n_temp, max(salinity) AS "
            "sal_max, min(pressure) AS pres_min FROM argo_clean "
            f"WHERE float_id BETWEEN '{lo}' AND '{hi}' GROUP BY float_id"
        )}))
        return [ops[j] for j in r.permutation(len(ops))]

    def warm_window(self) -> list[Op]:
        """A deck with one search and one SQL request: the lookups give the
        window a steady median, and every class's code path is warmed at
        two thirds of a deck's cost."""
        ops, seen = [], set()
        for op in self.window():
            if op.cls == "lookup" or op.cls not in seen:
                ops.append(op)
                seen.add(op.cls)
        return ops

    @staticmethod
    def _corpus():
        from floatchat_datapipeline_spark.corpus import CORPUS

        return CORPUS

    def run(self, op: Op) -> Result:
        from pyspark.sql import functions as F

        p = op.params
        if op.cls == "lookup":
            fn = getattr(self.engine, op.kind)
            df = self.span("api.lookup", fn, **p)
        elif op.cls == "search":
            df = self.span(
                "api.search", self.engine.semantic_search, p["text"], self.K,
                where=F.col(p["col"]) > p["gt"],
            )
        else:
            df = self.span("api.sql", self.api.sql, self.spark, self.ctx.data_dir, p["sql"])
        rows = self.collect(df)
        return Result(rows, [df], {"rows_returned": len(rows)})

    # -- checks -------------------------------------------------------------

    def check(self, op: Op, rows: list, timed: bool) -> str | None:
        if not timed:
            return None
        g, p = self.gold, op.params
        if op.cls == "lookup":
            got = [r["float_id"] for r in rows]
            want = self._lookup(op.kind, p)
            if op.kind != "extremes":
                got, want = sorted(got), sorted(want)
            return None if got == want else f"{op.kind}: {len(got)} rows, want {len(want)}"
        if op.cls == "search":
            got = [(r["float_id"], r["score"]) for r in rows]
            want = self._search(p)
            return None if got == want else f"search {p['text']!r}: {got[:2]} != {want[:2]}"
        if op.kind == "float_metadata":
            import duckdb

            con = duckdb.connect()
            con.register("float_metadata", g)
            want = sorted(tuple(_none_nan(v) for v in t) for t in con.execute(p["sql"]).fetchall())
        else:
            sel = g[(g.float_id >= p["lo"]) & (g.float_id <= p["hi"])]
            want = sorted(
                (f, int(n), _none_nan(s), _none_nan(pr))
                for f, n, s, pr in zip(sel.float_id, sel.temperature_count,
                                       sel.salinity_max, sel.pressure_min)
            )
        got = sorted(tuple(r) for r in rows)
        return None if got == want else f"sql {op.kind}: {len(got)} rows, want {len(want)}"

    def _lookup(self, kind: str, p: dict) -> list[str]:
        g = self.gold

        def box(lat, lon):
            return ((g.lat_max >= lat[0]) & (g.lat_min <= lat[1])
                    & (g.lon_max >= lon[0]) & (g.lon_min <= lon[1]))

        if kind == "geo_box":
            m = box(p["lat"], p["lon"])
        elif kind == "exclude_region":
            m = ~box(p["lat"], p["lon"])
        elif kind == "time_range":
            m = (g.end_date >= pd.Timestamp(p["start"])) & (g.deploy_date <= pd.Timestamp(p["end"]))
        elif kind == "measurement_range":
            m = (g[f"{p['var']}_max"] >= p["lo"]) & (g[f"{p['var']}_min"] <= p["hi"])
        elif kind == "depth_query":
            m = g.pressure_max >= p["min_pressure"]
        elif kind == "multi_param":
            m = (g.temperature_max >= p["temperature"][0]) & (g.salinity_min <= p["salinity"][1])
        else:  # extremes: Spark sorts NULLs first ascending, last descending
            col = f"{p['var']}_min" if p["coldest"] else f"{p['var']}_max"
            asc = p["coldest"]
            top = g.sort_values(
                [col, "float_id"], ascending=[asc, True],
                na_position="first" if asc else "last",
            )
            return list(top.float_id[: p["k"]])
        return list(g.float_id[m])

    def _search(self, p: dict) -> list[tuple]:
        """Top-k recomputed with the stub encoder in numpy, folding the
        dot products left to right as the Spark expression does."""
        from floatchat_datapipeline_spark.embeddings.encoder import get_model

        model = get_model()
        if self._doc_vecs is None:
            self._doc_vecs = dict(zip(self.docs.float_id, model.encode(list(self.docs.document))))
        q = model.encode([p["text"]])[0]
        keep = set(self.gold.float_id[self.gold[p["col"]] > p["gt"]])
        scored = []
        for fid, v in self._doc_vecs.items():
            if fid not in keep:
                continue
            dot = na = nb = 0.0
            for a, b in zip(v, q):
                dot += a * b
                na += a * a
                nb += b * b
            den = np.sqrt(na) * np.sqrt(nb)
            if den:
                scored.append((fid, _round6(dot / den)))
        scored.sort(key=lambda t: (-t[1], t[0]))
        return scored[: self.K]

    def final_checks(self) -> list[str]:
        con = _duck(self.ctx.data_dir, ("lineitem",))
        want = con.execute(_oracle("argo_float_metadata")).df()
        got = self.gold
        want = want[list(got.columns)].sort_values("float_id").reset_index(drop=True)
        got = got.sort_values("float_id").reset_index(drop=True)
        if len(got) != len(want) or list(got.float_id) != list(want.float_id):
            return [f"gold view: {len(got)} floats, oracle {len(want)}"]
        for c in got.columns:
            a, b = got[c], want[c]
            if pd.api.types.is_float_dtype(a):
                ok = np.allclose(a.to_numpy(float), b.to_numpy(float), rtol=1e-12, atol=0, equal_nan=True)
            elif pd.api.types.is_datetime64_any_dtype(a):
                ok = (a.astype("datetime64[us]") == b.astype("datetime64[us]")).all()
            else:
                ok = (a.astype(str) == b.astype(str)).all()
            if not ok:
                return [f"gold view column {c} differs from the oracle"]
        return []


# ---------------------------------------------------------------------------
# upload stage of ingest_curation
# ---------------------------------------------------------------------------

KEYS = ("float_id", "profile_id", "level")


class MedallionIngest(_Workload):
    """An operator's upload: land one JSON file of raw ARGO rows, drain it
    into the keyed silver table, then refresh the touched floats' gold
    rows. Files re-observe existing keys, so table sizes stay constant."""

    N_FLOATS, N_PROFILES, N_LEVELS = 200, 10, 10
    FILE_FLOATS, ROWS_PER_FLOAT = 40, 25

    def setup(self) -> None:
        from pyspark.sql import types as T

        from floatchat_datapipeline_spark.operators import cleaning

        self.clean = cleaning.clean_argo
        base = self.ctx.run_dir
        self.landing = os.path.join(base, "landing")
        self.silver_path = os.path.join(base, "silver")
        self.gold_path = os.path.join(base, "gold")
        self.ckpt = os.path.join(base, "checkpoint")
        os.makedirs(self.landing)
        self.schema = T.StructType([
            T.StructField("float_id", T.StringType()),
            T.StructField("profile_id", T.StringType()),
            T.StructField("time", T.TimestampType()),
            T.StructField("latitude", T.DoubleType()),
            T.StructField("longitude", T.DoubleType()),
            T.StructField("pressure", T.DoubleType()),
            T.StructField("depth", T.DoubleType()),
            T.StructField("temperature", T.DoubleType()),
            T.StructField("salinity", T.DoubleType()),
            T.StructField("level", T.IntegerType()),
        ])
        self.floats = [str(2900000 + i) for i in range(self.N_FLOATS)]
        f, p, lv = np.meshgrid(
            np.arange(self.N_FLOATS), np.arange(self.N_PROFILES),
            np.arange(self.N_LEVELS), indexing="ij",
        )
        keys = pd.DataFrame({
            "float_id": np.array(self.floats)[f.ravel()],
            "profile_id": [f"{self.floats[a]}_{b:03d}" for a, b in zip(f.ravel(), p.ravel())],
            "level": lv.ravel().astype("int32"),
        })
        self.mirror = pd.concat([keys, self._values(len(keys), p.ravel(), lv.ravel())], axis=1)
        self.mirror = self.mirror[[f.name for f in self.schema.fields]]
        self._write_silver()
        self.n_ops = 0
        self._refresh_gold(self.floats)

    def _values(self, n: int, profile: np.ndarray, level: np.ndarray) -> pd.DataFrame:
        """Measurements on exact binary fractions, so sums are exact."""
        r = self.rng
        return pd.DataFrame({
            "time": pd.Timestamp("2015-01-01") + pd.to_timedelta(profile * 10 + r.integers(0, 10, n), "D"),
            "latitude": r.integers(-480, 480, n) / 8.0,
            "longitude": r.integers(-1440, 1440, n) / 8.0,
            "pressure": level * 100.0 + 5.0,
            "depth": level * 99.0 + 5.0,
            "temperature": r.integers(4, 60, n) / 2.0,
            "salinity": 33.0 + r.integers(0, 24, n) / 8.0,
        })

    def _write_silver(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.silver_path)
        table = pa.Table.from_pandas(self.mirror, preserve_index=False).cast(pa.schema([
            ("float_id", pa.string()), ("profile_id", pa.string()),
            ("time", pa.timestamp("us")), ("latitude", pa.float64()),
            ("longitude", pa.float64()), ("pressure", pa.float64()),
            ("depth", pa.float64()), ("temperature", pa.float64()),
            ("salinity", pa.float64()), ("level", pa.int32()),
        ]))
        pq.write_table(table, os.path.join(self.silver_path, "part-00000.parquet"))

    def window(self) -> list[Op]:
        r = self.rng
        floats = sorted(r.choice(self.N_FLOATS, self.FILE_FLOATS, replace=False))
        parts = []
        for fi in floats:
            cells = r.choice(self.N_PROFILES * self.N_LEVELS, self.ROWS_PER_FLOAT, replace=False)
            parts.append((fi, cells // self.N_LEVELS, cells % self.N_LEVELS))
        fi = np.concatenate([np.full(len(c[1]), c[0]) for c in parts])
        prof = np.concatenate([c[1] for c in parts])
        lev = np.concatenate([c[2] for c in parts])
        n = len(fi)
        raw = self._values(n, prof, lev)
        fids = np.array(self.floats)[fi]
        raw.insert(0, "float_id", fids)
        raw.insert(1, "profile_id", [f"{a}_{b:03d}" for a, b in zip(fids, prof)])
        raw["level"] = lev.astype("int32")
        # the dirty-data matrix: dropped ids, byte-string ids, rows outside
        # the time and geo windows, out-of-bounds measurements
        u = r.random(n)
        raw.loc[u < 0.02, "float_id"] = "nan"
        wrap = (u >= 0.02) & (u < 0.05)
        raw.loc[wrap, "float_id"] = [f"b'{x} '" for x in raw.float_id[wrap]]
        raw.loc[(u >= 0.05) & (u < 0.06), "latitude"] = 95.0
        raw.loc[(u >= 0.06) & (u < 0.07), "time"] = pd.Timestamp("1995-06-15")
        raw.loc[(u >= 0.07) & (u < 0.09), "temperature"] = 45.0
        raw.loc[(u >= 0.09) & (u < 0.10), "salinity"] = 60.0
        self.n_ops += 1
        lines = raw.assign(time=raw.time.dt.strftime("%Y-%m-%dT%H:%M:%S")).to_json(
            orient="records", lines=True
        )
        return [Op("ingest", "upload", {
            "file": os.path.join(self.landing, f"upload-{self.n_ops:05d}.json"),
            "lines": lines, "raw": raw, "touched": sorted(set(fids)),
        })]

    def run(self, op: Op) -> Result:
        from floatchat_datapipeline_spark.streaming import ingest

        p = op.params
        with open(p["file"], "w") as fh:
            fh.write(p["lines"])
        ingest.ingest_landing_to_table(
            self.spark, self.landing, self.silver_path, self.ckpt, self.schema,
            KEYS, transform=self.clean,
        )
        gold = self._refresh_gold(p["touched"])
        return Result(None, [gold])

    def _refresh_gold(self, touched: list[str]):
        from pyspark.sql import functions as F

        from floatchat_datapipeline_spark.embeddings import encoder
        from floatchat_datapipeline_spark.functions import text
        from floatchat_datapipeline_spark.operators import aggregate
        from floatchat_datapipeline_spark.sinks import upsert

        silver = self.spark.read.parquet(self.silver_path).filter(F.col("float_id").isin(touched))
        flat = aggregate.float_metadata_agg(silver)
        summary = text.float_summary_v2({c: F.col(c) for c in flat.columns})
        gold = flat.select("*", summary.alias("document")).withColumn(
            "embedding", encoder.encode_text("document")
        )
        upsert.upsert(gold, self.gold_path, ("float_id",))
        return gold

    # -- checks -------------------------------------------------------------

    @staticmethod
    def _clean(raw: pd.DataFrame) -> pd.DataFrame:
        """The cleaning rules, restated in pandas."""
        df = raw[raw.float_id != "nan"].copy()
        df = df.dropna(subset=["float_id", "time", "latitude", "longitude"])
        df = df[(df.time >= "1999-01-01") & (df.time <= "2035-01-01")]
        df = df[df.latitude.between(-90, 90) & df.longitude.between(-180, 180)]
        df["float_id"] = df.float_id.str.replace(r"^b'|'$", "", regex=True).str.strip()
        for c, lo, hi in (("temperature", -5, 40), ("salinity", 0, 50),
                          ("pressure", 0, 6000), ("depth", 0, 6000)):
            df[c] = df[c].where((df[c] > lo) & (df[c] < hi))
        return df.dropna(subset=list(MEASURES), how="all")

    def check(self, op: Op, _output, timed: bool) -> str | None:
        os.remove(op.params["file"])
        new = self._clean(op.params["raw"]).set_index(list(KEYS))
        m = self.mirror.set_index(list(KEYS))
        m.loc[new.index, new.columns] = new
        self.mirror = m.reset_index()[self.mirror.columns]
        if not timed:
            return None
        # read back with pyarrow: an independent reader, and no Spark job
        silver = pd.read_parquet(self.silver_path).set_index(list(KEYS)).sort_index()
        want = self.mirror.set_index(list(KEYS)).sort_index()
        if not silver.index.equals(want.index):
            return f"silver holds {len(silver)} keys, want {len(want)}"
        for c in want.columns:
            a, b = silver[c], want[c]
            if a.dtype.kind == "M":
                a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
            if not a.equals(b):
                return f"silver column {c} differs from the mirror"
        return self._check_gold(op.params["touched"])

    def _check_gold(self, touched: list[str]) -> str | None:
        from floatchat_datapipeline_spark.embeddings.encoder import get_model

        gold = pd.read_parquet(self.gold_path)
        if len(gold) != self.N_FLOATS:
            return "gold row count changed"
        g = gold[gold.float_id.isin(touched)].set_index("float_id").sort_index()
        m = self.mirror[self.mirror.float_id.isin(touched)].groupby("float_id")
        want = pd.DataFrame({
            "total_profiles": m.profile_id.nunique(),
            "temperature_count": m.temperature.count(),
            "temperature_min": m.temperature.min(),
            "temperature_max": m.temperature.max(),
            "temperature_mean": m.temperature.mean(),
            "salinity_max": m.salinity.max(),
            "pressure_min": m.pressure.min(),
            "lat_min": m.latitude.min(),
            "lon_max": m.longitude.max(),
        }).sort_index()
        if list(g.index) != list(want.index):
            return "gold rows missing for touched floats"
        for c in want.columns:
            if not np.allclose(g[c].to_numpy(float), want[c].to_numpy(float), rtol=1e-12, atol=0):
                return f"gold column {c} differs from the silver mirror"
        vecs = get_model().encode(list(g.document))
        if not np.allclose(np.stack(g.embedding.to_numpy()), vecs, rtol=0, atol=1e-12):
            return "gold embeddings differ from the stub encoder"
        return None


# ---------------------------------------------------------------------------
# curation stage of ingest_curation
# ---------------------------------------------------------------------------


class CorpusCuration(_Workload):
    """An LLM-corpus curator: one MinHash-LSH near-dup pass over the
    documents plus one SemDedup pass over the embeddings per operation,
    with the corpus cache key (the quantizer is trained in set-up)."""

    THRESHOLD = 0.35

    def setup(self) -> None:
        from floatchat_datapipeline_spark.catalog import load_table

        datagen.write_tables(self.ctx.data_dir, self.ctx.seed, self.ctx.sf)
        self.docs = load_table(self.spark, self.ctx.data_dir, "documents")
        self.emb = load_table(self.spark, self.ctx.data_dir, "embeddings")
        self.cache_key = os.path.join(self.ctx.data_dir, "embeddings.parquet")
        self.outputs: list[tuple] = []
        # trains the quantizer and fills the corpus memo under cache_key
        self.run(self.window()[0])

    def window(self) -> list[Op]:
        return [Op("curation", "pass")]

    def run(self, op: Op) -> Result:
        from floatchat_datapipeline_spark.operators import clusters, dedup

        pairs_df = dedup.minhash_lsh_pairs(self.docs, self.spark)
        pairs = self.collect(pairs_df)
        kept_df = clusters.semdedup(self.emb, threshold=self.THRESHOLD, cache_key=self.cache_key)
        kept = self.collect(kept_df)
        return Result((pairs, kept), [pairs_df, kept_df], {
            "candidate_pairs": len(pairs),
            "kept_share": sum(r["is_kept"] for r in kept) / max(1, len(kept)),
        })

    def check(self, op: Op, output, timed: bool) -> str | None:
        if not timed:
            return None
        pairs, kept = output
        result = (
            sorted((r["id_a"], r["id_b"]) for r in pairs),
            sorted((r["vec_id"], r["cluster"], bool(r["is_kept"])) for r in kept),
        )
        self.outputs.append(result)
        return None

    def final_checks(self) -> list[str]:
        con = _duck(self.ctx.data_dir, ("documents", "embeddings"))
        want_pairs = sorted(tuple(t) for t in con.execute(_oracle("doc_minhash_lsh_pairs")).fetchall())
        want_kept = sorted(
            (a, b, bool(c)) for a, b, c in con.execute(_oracle("emb_semdedup")).fetchall()
        )
        errors = []
        for i, (pairs, kept) in enumerate(self.outputs):
            if pairs != want_pairs:
                errors.append(f"pass {i}: {len(pairs)} LSH pairs, oracle {len(want_pairs)}")
            if kept != want_kept:
                errors.append(f"pass {i}: SemDedup keep-set differs from the oracle")
        return errors


# ---------------------------------------------------------------------------
# ingest_curation
# ---------------------------------------------------------------------------


class IngestCuration(_Workload):
    """The data side, with no chat user waiting: each round lands one
    upload through the medallion flow (MedallionIngest) and then runs one
    corpus curation pass (CorpusCuration). The two stages are timed
    apart inside the round and reported per stage."""

    name = "ingest_curation"
    unit = "rounds"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.ingest = MedallionIngest(ctx)
        self.curation = CorpusCuration(ctx)

    def setup(self) -> None:
        self.curation.setup()
        self.ingest.setup()

    def window(self) -> list[Op]:
        upload = self.ingest.window()[0]
        return [Op("round", "round", {"upload": upload, "pass": self.curation.window()[0]})]

    def run(self, op: Op) -> Result:
        import time

        t0 = time.perf_counter()
        ing = self.ingest.run(op.params["upload"])
        t1 = time.perf_counter()
        cur = self.curation.run(op.params["pass"])
        t2 = time.perf_counter()
        return Result((ing.output, cur.output), ing.frames + cur.frames, {
            **cur.stats,
            "landed_rows": len(op.params["upload"].params["raw"]),
            "ingest_ms": (t1 - t0) * 1000.0,
            "curation_ms": (t2 - t1) * 1000.0,
        })

    def check(self, op: Op, output, timed: bool) -> str | None:
        return (self.ingest.check(op.params["upload"], output[0], timed)
                or self.curation.check(op.params["pass"], output[1], timed))

    def final_checks(self) -> list[str]:
        return self.curation.final_checks()


WORKLOADS = {w.name: w for w in (ChatQuery, IngestCuration)}
