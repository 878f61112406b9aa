"""The benchmark workloads.

Each workload generates its seeded inputs before Spark starts, runs
one *pass* (the unit every pass-time metric is made of) through the
package's public functions, and checks a pass's output against a
reference computed without Spark, outside the timed region.

- insurance_etl:     raw CSVs -> ingest -> clean -> star schema ->
                     driver risk -> analytics, each layer written as
                     Parquet, plus one bounded telematics replay
                     through the streaming layer.
- corpus_curation:   exact dedup -> near-duplicate pairs -> clusters
                     and survivors -> cosine top-k -> curated corpus
                     written as Parquet.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import datagen

# The reference pipeline's staged volumes (BASELINE.md): 15,000
# contracts, 5,390 vehicles, 155 claims and 173,853 telematics events
# from 3 devices.
REFERENCE_VOLUMES = {"contracts": 15_000, "vehicles": 5_390, "claims": 155,
                     "events": 173_853}
REFERENCE_DEVICES = 3


def _insurance_size(share: float) -> dict:
    """The reference volumes times ``share``, same ratios, same 3 devices."""
    size = {k: max(1, round(v * share)) for k, v in REFERENCE_VOLUMES.items()}
    size["events"] -= size["events"] % REFERENCE_DEVICES
    return {**size, "devices": REFERENCE_DEVICES}


SIZES = {
    # full: the measured size; tiny: the smoke test's size
    "insurance_etl": {
        # a quarter of the reference volumes, same ratios, same 3
        # devices: a run at full volume takes ~82 s on 4 cores, and the
        # benchmark's 48 runs must fit in 3420 s
        "full": _insurance_size(0.25),
        "tiny": _insurance_size(0.02),
    },
    "corpus_curation": {
        "full": {"docs": 2_000, "dup_rate": 0.2, "vectors": 2_000, "twin_rate": 0.1},
        "tiny": {"docs": 200, "dup_rate": 0.2, "vectors": 200, "twin_rate": 0.1},
    },
}


def _rel_close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


# ---------------------------------------------------------------------------
# insurance_etl
# ---------------------------------------------------------------------------


def _premium(raw: pd.Series) -> pd.Series:
    v = raw.str.strip().str.replace(r"[€$£,\s]", "", regex=True).astype(float)
    return v.where(v >= 0, 0.0)


def _haversine_km(lat1, lon1, lat2, lon2):
    dlat = np.radians(lat2 - lat1)
    dlon = np.radians(lon2 - lon1)
    a = (np.sin(dlat / 2) ** 2
         + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(dlon / 2) ** 2)
    return 2 * 6371.0 * np.arctan2(np.sqrt(a), np.sqrt(1 - a))


class InsuranceEtl:
    name = "insurance_etl"
    spans = ["sources.ingest", "functions.clean", "plans.star", "plans.risk",
             "plans.analytics", "streaming.micro_batch"]

    def prepare(self, work: str, seed: int, size: dict) -> None:
        self.inp = datagen.insurance_raw(f"{work}/raw", seed, **size)
        self.wh = f"{work}/warehouse"
        self.rows, self.bytes = self.inp.rows, self.inp.bytes
        self.expected = self._reference()

    def _reference(self) -> dict:
        """Table row counts, premium totals and per-device risk scores
        from the generated frames, in pandas."""
        inp = self.inp
        c = inp.contracts
        premium = _premium(c["annual_premium"])
        # a contract's segment is its client's, taken from the client's
        # first contract (dim_customer keeps one row per client)
        first = c.sort_values("contract_id").drop_duplicates("client_id")
        client_segment = first.set_index("client_id")["csp"].fillna("<null>")
        segments = (
            pd.DataFrame({"segment": c["client_id"].map(client_segment), "p": premium})
            .groupby("segment")["p"].agg(["sum", "count"])
        )
        t = inp.telematics
        pos = t[t["variable"] == "POSITION"].copy()
        ll = pos["value"].str.split(",", expand=True).astype(float)
        pos["lat"], pos["lon"] = ll[0], ll[1]
        pos["sec"] = (pos["timeMili"].astype(np.int64) // 1000)
        # ties share one GPS fix, so their order does not matter
        pos = pos.sort_values(["deviceId", "sec"], kind="stable")
        g = pos.groupby("deviceId")
        pos["plat"], pos["plon"], psec = g["lat"].shift(), g["lon"].shift(), g["sec"].shift()
        pos["dt"] = pos["sec"] - psec
        hops = pos[pos["dt"] > 0].copy()
        hops["speed"] = (
            _haversine_km(hops["plat"], hops["plon"], hops["lat"], hops["lon"])
            / hops["dt"] * 3600.0
        )
        hops = hops[hops["speed"] < 160.0]
        stats = hops.groupby("deviceId")["speed"].agg(
            speeding=lambda s: int((s > 110.0).sum()), avg="mean", mx="max", n="count"
        )
        stats["score"] = np.where(
            stats["speeding"] > 0,
            np.maximum(100.0 - 5.0 * stats["speeding"] - stats["avg"] / 20.0, 0.0),
            100.0,
        )
        n = len(c)
        return {
            "rows": {
                "cleaned_contracts": n,
                "cleaned_vehicles": len(inp.vehicles),
                "cleaned_claims": len(inp.claims),
                "cleaned_telematics": len(t),
                "dim_customer": c["client_id"].nunique(),
                "dim_policy": n,
                "dim_date": 4018,  # 2020-01-01 .. 2030-12-31
                "fact_policy_snapshot": n,
                "fact_claims": len(inp.claims),
                "fact_driver_risk": len(stats),
                "analytics_monthly_trend": 1,  # one load date
                "analytics_segments": len(segments),
            },
            "premium_total": float(premium.sum()),
            "segments": segments,
            "risk": stats,
            "stream_events": len(t),
            "stream_positions": int((t["variable"] == "POSITION").sum()),
        }

    def run_pass(self, spark, rec, index: int) -> dict:
        from car_insurance_data_pipeline_spark_spark.plans import insurance as ins
        from car_insurance_data_pipeline_spark_spark.sources import write_parquet
        from car_insurance_data_pipeline_spark_spark.streaming import telematics as st

        wh = self.wh

        def materialize(name, df):
            write_parquet(df, f"{wh}/{name}.parquet")
            return spark.read.parquet(f"{wh}/{name}.parquet")

        with rec.span("sources.ingest"):
            staged = ins.ingest_raw(spark, self.inp.raw_dir, f"{wh}/staged")
        with rec.span("functions.clean"):
            contracts = materialize(
                "cleaned_contracts", ins.clean_contracts(staged["contracts"]))
            materialize("cleaned_vehicles", ins.clean_vehicles(staged["vehicles"]))
            claims = materialize("cleaned_claims", ins.clean_claims(staged["claims"]))
            telematics = materialize(
                "cleaned_telematics", ins.clean_telematics(staged["telematics_raw"]))
        with rec.span("plans.star"):
            dim_customer = materialize("dim_customer", ins.build_dim_customer(contracts))
            dim_policy = materialize("dim_policy", ins.build_dim_policy(contracts))
            dim_date = materialize("dim_date", ins.build_dim_date(spark))
            fact_policy = materialize(
                "fact_policy_snapshot",
                ins.build_fact_policy_snapshot(contracts, dim_customer, dim_policy))
            materialize("fact_claims", ins.build_fact_claims(claims, contracts, dim_policy))
        with rec.span("plans.risk"):
            materialize(
                "fact_driver_risk",
                ins.build_driver_risk(telematics, staged["device_mapping"], dim_customer))
        with rec.span("plans.analytics"):
            materialize("analytics_monthly_trend",
                        ins.monthly_premium_trend(fact_policy, dim_date))
            materialize("analytics_segments",
                        ins.segment_analysis(fact_policy, dim_customer))
        with rec.span("streaming.micro_batch"):
            events = st.read_stream(
                spark, f"{wh}/cleaned_telematics.parquet", telematics.schema, max_files=1)
            name = f"bench_replay_{index}"
            query = st.run_to_memory(
                st.windowed_event_counts(events), name, output_mode="complete")
            rec.attach_group(str(query.runId))
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        return {
            "stream_table": name,
            "batches": len(progress),
            "state_rows": sum(
                op["numRowsTotal"] for op in query.lastProgress["stateOperators"]),
        }

    def check(self, spark, out: dict) -> list[str]:
        exp, wh, bad = self.expected, self.wh, []
        tables = {name: _read(f"{wh}/{name}.parquet") for name in exp["rows"]}
        for name, n in exp["rows"].items():
            if len(tables[name]) != n:
                bad.append(f"{name}: {len(tables[name])} rows, expected {n}")
        got = float(tables["fact_policy_snapshot"]["total_premium"].sum())
        if not _rel_close(got, exp["premium_total"]):
            bad.append(f"premium total {got} != {exp['premium_total']}")
        trend = tables["analytics_monthly_trend"]
        if not _rel_close(float(trend["total_premium"].sum()), exp["premium_total"]):
            bad.append("monthly trend premium total differs")
        seg = tables["analytics_segments"].assign(
            segment=lambda d: d["segment"].fillna("<null>")).set_index("segment")
        for s, row in exp["segments"].iterrows():
            if s not in seg.index or not _rel_close(seg.at[s, "total_premium"], row["sum"]) \
                    or seg.at[s, "total_policies"] != row["count"]:
                bad.append(f"segment {s} differs")
        risk = tables["fact_driver_risk"].set_index("deviceId")
        ref = exp["risk"]
        if set(risk.index) != set(ref.index):
            bad.append("risk devices differ")
        else:
            r = risk.loc[ref.index]
            if not (r["speeding_incidents"].to_numpy() == ref["speeding"].to_numpy()).all():
                bad.append("speeding incidents differ")
            if not (r["total_events"].to_numpy() == ref["n"].to_numpy()).all():
                bad.append("risk event counts differ")
            if not np.allclose(r["driver_risk_score"], ref["score"], rtol=1e-9, atol=1e-6):
                bad.append("risk scores differ")
        row = spark.sql(
            f"SELECT sum(n_events), sum(n_position) FROM {out['stream_table']}").first()
        if (row[0], row[1]) != (exp["stream_events"], exp["stream_positions"]):
            bad.append(f"stream totals {tuple(row)} differ")
        spark.catalog.dropTempView(out["stream_table"])
        return bad


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

NEAR_THRESHOLD = 0.5
TOPK = 5
N_QUERIES = 32


class CorpusCuration:
    name = "corpus_curation"
    spans = ["operators.exact_dedup", "operators.near_dup", "operators.clusters",
             "operators.cosine_topk", "sources.export"]

    def prepare(self, work: str, seed: int, size: dict) -> None:
        self.inp = datagen.corpus(f"{work}/corpus", seed, **size)
        self.out_dir = f"{work}/curated.parquet"
        self.rows, self.bytes = self.inp.rows, self.inp.bytes
        rng = np.random.default_rng(seed + 1)
        n_vec = len(self.inp.vectors)
        # half the queries have a planted twin, half are random rows
        twins = [a for a, _ in self.inp.twin_pairs]
        self.query_ids = sorted(set(
            rng.choice(twins, N_QUERIES // 2, replace=False).tolist()
            + rng.choice(n_vec, N_QUERIES // 2, replace=False).tolist()))
        self.expected = self._reference()

    def _reference(self) -> dict:
        inp = self.inp
        drop = {max(g) for g in inp.exact_groups}  # min doc id survives
        survivors = set(range(len(inp.texts))) - drop
        for a, b in inp.near_groups:
            keep = min((a, b), key=lambda d: (-inp.n_chars[d], d))
            survivors.discard(a if keep == b else b)
        v = inp.vectors.astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        sims = np.round(v[self.query_ids] @ v.T, 5)
        topk = {}
        for j, q in enumerate(self.query_ids):
            sims[j, q] = -np.inf  # self-matches are excluded
            order = np.lexsort((np.arange(len(v)), -sims[j]))[:TOPK]
            topk[q] = (order.tolist(), sims[j, order].tolist())
        return {
            "after_exact": len(inp.texts) - len(drop),
            "near_pairs": {tuple(sorted(g)) for g in inp.near_groups},
            "survivors": survivors,
            "topk": topk,
        }

    def run_pass(self, spark, rec, index: int) -> dict:
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from car_insurance_data_pipeline_spark_spark.functions.vectors import (
            with_vector_dim,
        )
        from car_insurance_data_pipeline_spark_spark.operators.dedup import (
            exact_dedup,
            near_dup_pairs,
        )
        from car_insurance_data_pipeline_spark_spark.operators.graph import (
            connected_components,
        )
        from car_insurance_data_pipeline_spark_spark.operators.similarity import (
            cosine_topk,
        )
        from car_insurance_data_pipeline_spark_spark.sources import (
            read_parquet,
            write_parquet,
        )

        docs = read_parquet(spark, self.inp.docs_path)
        vecs = with_vector_dim(
            read_parquet(spark, self.inp.vecs_path), "embedding", datagen.EMBED_DIM)
        cached = []
        try:
            with rec.span("operators.exact_dedup"):
                dd = exact_dedup(docs, ["text"], "doc_id").cache()
                cached.append(dd)
                n_exact = dd.count()
            with rec.span("operators.near_dup"):
                pairs = near_dup_pairs(
                    dd, "doc_id", "text", k=3, threshold=NEAR_THRESHOLD).cache()
                cached.append(pairs)
                pair_rows = pairs.collect()
            with rec.span("operators.clusters"):
                comp = connected_components(pairs, "doc_a", "doc_b")
                labeled = dd.join(comp, dd["doc_id"] == comp["node"], "left").select(
                    dd["*"], F.coalesce(comp["component"], dd["doc_id"]).alias("cluster"))
                w = Window.partitionBy("cluster").orderBy(F.col("n_chars").desc(), "doc_id")
                kept = (labeled.withColumn("rn", F.row_number().over(w))
                        .filter(F.col("rn") == 1).drop("rn", "cluster")).cache()
                cached.append(kept)
                kept.count()
            with rec.span("operators.cosine_topk"):
                queries = vecs.filter(F.col("vec_id").isin(self.query_ids))
                topk = cosine_topk(queries, vecs, k=TOPK, dim=datagen.EMBED_DIM).collect()
            with rec.span("sources.export"):
                write_parquet(kept.select("doc_id", "text", "lang", "source"), self.out_dir)
        finally:
            for df in cached:
                df.unpersist()
        return {"n_exact": n_exact, "pairs": pair_rows, "topk": topk}

    def check(self, spark, out: dict) -> list[str]:
        exp, bad = self.expected, []
        if out["n_exact"] != exp["after_exact"]:
            bad.append(f"exact dedup kept {out['n_exact']}, expected {exp['after_exact']}")
        found = {(r["doc_a"], r["doc_b"]) for r in out["pairs"]}
        if found != exp["near_pairs"]:
            missed = len(exp["near_pairs"] - found)
            extra = len(found - exp["near_pairs"])
            bad.append(f"near-dup pairs: {missed} planted missed, {extra} unplanted")
        kept = set(_read(self.out_dir)["doc_id"].tolist())
        if kept != exp["survivors"]:
            bad.append(f"curated corpus: {len(kept)} docs, expected {len(exp['survivors'])}")
        got: dict[int, list] = {}
        for r in sorted(out["topk"], key=lambda r: (r["qid"], r["rn"])):
            got.setdefault(r["qid"], []).append((r["cid"], r["sim"]))
        for q, (ids, sims) in exp["topk"].items():
            g = got.get(q, [])
            if len(g) != TOPK or g[0][0] != ids[0] or not np.allclose(
                    [s for _, s in g], sims, atol=2e-5):
                bad.append(f"cosine top-k differs for query {q}")
                break
        return bad


WORKLOADS = {w.name: w for w in (InsuranceEtl, CorpusCuration)}

