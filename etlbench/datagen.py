"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed
writes byte-identical inputs. The program under test only ever sees
the files written here; the benchmark keeps the generator's own
ground truth (planted duplicates, planted neighbours) for its checks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# insurance_etl: the reference pipeline's dirty raw CSVs
# ---------------------------------------------------------------------------

PRODUCTS = ["Auto", "Health", "Home", "Life"]
STATUSES = ["Active", "Cancelled", "Expired", "Renewed", "Suspended"]
RISK_ZONES = ["High", "Medium", "Low"]
CHANNELS = ["Agency", "Broker", "Phone", "Web"]
CSPS = ["Employee", "Manager", "Retired", "Self_employed", "Student", "Unemployed", "Worker"]
GENDERS = ["F", "M", "Female", "Male"]
FIRST = ["Pascal", "Marie", "Luc", "Anne", "Jean", "Claire", "Hugo", "Emma"]
LAST = ["Dubois", "Martin", "Bernard", "Petit", "Robert", "Richard"]
BRANDS = ["BMW", "Mercedes", "Peugeot", "Renault", "Volkswagen"]
FUELS = ["Diesel", "Electric", "Gasoline", "Hybrid"]
USAGES = ["Mixed", "Personal", "Professional"]
COLORS = ["Black", "Blue", "Gray", "Red", "White"]
CLAIM_TYPES = ["Collision", "Fire", "Glass_damage", "Storm", "Theft", "Vandalism"]
CLAIM_STATUSES = ["Closed", "Expert_review", "In_progress", "Open", "Rejected"]
LIABILITIES = ["Force_majeure", "Insured", "Shared", "Third_party"]
SENSORS = ["EXTERNAL BATTERY", "IGNITION_STATUS", "ENGINE RPM", "Vehicle speed"]
BASE_MS = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _with_nulls(rng, values: np.ndarray, rate: float) -> np.ndarray:
    out = values.astype(object)
    out[rng.random(len(out)) < rate] = None
    return out


@dataclass
class InsuranceInputs:
    raw_dir: str
    rows: int
    bytes: int
    contracts: pd.DataFrame
    vehicles: pd.DataFrame
    claims: pd.DataFrame
    telematics: pd.DataFrame
    device_mapping: pd.DataFrame


def insurance_raw(
    raw_dir: str, seed: int, contracts: int, vehicles: int, claims: int,
    devices: int, events: int,
) -> InsuranceInputs:
    """Write contracts/vehicles/claims/telematics/device_mapping CSVs
    with the reference data's pathologies: mixed date formats, mixed
    currency symbols and negative premiums, 1-3 token names, nulls,
    fully empty rows, packed 'lat,lon,alt' GPS triples, duplicate
    timestamps and shuffled (out-of-order) telematics arrival.
    ``events`` are split evenly over ``devices``. A POSITION event that
    shares its device's previous timestamp repeats that GPS fix, so the
    per-device lag order is ambiguous only among identical fixes and
    the risk scores stay deterministic."""
    os.makedirs(raw_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = contracts
    n_clients = max(1, (n * 3) // 4)

    # -- contracts
    toks = rng.choice([1, 2, 2, 2, 3], n)
    f1, f2, ln = _pick(rng, FIRST, n), _pick(rng, FIRST, n), _pick(rng, LAST, n)
    names = np.where(
        toks == 1, f1, np.where(toks == 2, f1 + " " + ln, f1 + " " + f2 + " " + ln)
    )
    y = 2020 + rng.integers(0, 4, n)
    m = 1 + rng.integers(0, 12, n)
    d = 1 + rng.integers(0, 28, n)
    iso = [f"{a:04d}-{b:02d}-{c:02d}" for a, b, c in zip(y, m, d)]
    slash = [f"{b:02d}/{c:02d}/{a:04d}" for a, b, c in zip(y, m, d)]
    start = np.where(rng.random(n) < 0.7, iso, slash)
    end = [f"{a + 1:04d}-{b:02d}-{c:02d}" for a, b, c in zip(y, m, d)]
    amt = np.round(rng.uniform(200, 3000, n), 2)
    style = rng.integers(0, 4, n)
    premium = [
        (f"{a}€", f"€{a}", f"${a}", f"-{a}€")[s] for a, s in zip(amt, style)
    ]
    age = (20 + rng.integers(0, 60, n)).astype(float)
    age[rng.random(n) < 0.08] = np.nan
    contracts_df = pd.DataFrame(
        {
            "contract_id": [f"CTR_{i:07d}" for i in range(n)],
            "client_id": [f"CLI_{i % n_clients:07d}" for i in range(n)],
            "client_name": names,
            "product": _pick(rng, PRODUCTS, n),
            "start_date": start,
            "end_date": end,
            "annual_premium": premium,
            "status": _pick(rng, STATUSES, n),
            "city_postal": [f"Paris_{75000 + v}" for v in rng.integers(0, 20, n)],
            "risk_zone": _pick(rng, RISK_ZONES, n),
            "client_age": age,
            "channel": _pick(rng, CHANNELS, n),
            "csp": _with_nulls(rng, _pick(rng, CSPS, n), 0.12),
            "gender": _with_nulls(rng, _pick(rng, GENDERS, n), 0.21),
        }
    )
    contracts_df.to_csv(f"{raw_dir}/contracts.csv", index=False)
    with open(f"{raw_dir}/contracts.csv", "a") as f:
        # two fully empty rows, dropped at ingest
        f.write(("," * (contracts_df.shape[1] - 1) + "\n") * 2)

    # -- vehicles
    nv = vehicles
    year = np.array([f"{v}.0" for v in 2010 + rng.integers(0, 14, nv)], dtype=object)
    power = np.array([f"{v} HP" for v in 60 + rng.integers(0, 240, nv)], dtype=object)
    value = np.array([f"{v}€" for v in np.round(rng.uniform(3000, 60000, nv), 2)], dtype=object)
    prev = np.array([f"{v}.0" for v in rng.integers(0, 5, nv)], dtype=object)
    vehicles_df = pd.DataFrame(
        {
            "contract_id": [f"CTR_{v:07d}" for v in rng.integers(0, n, nv)],
            "brand": _pick(rng, BRANDS, nv),
            "model": [f"Model{v}" for v in rng.integers(0, 9, nv)],
            "year": _with_nulls(rng, year, 0.05),
            "power": _with_nulls(rng, power, 0.05),
            "fuel_type": _pick(rng, FUELS, nv),
            "current_value": _with_nulls(rng, value, 0.05),
            "color": _pick(rng, COLORS, nv),
            "usage": _pick(rng, USAGES, nv),
            "previous_claims": _with_nulls(rng, prev, 0.1),
        }
    )
    vehicles_df.to_csv(f"{raw_dir}/vehicles.csv", index=False)

    # -- claims
    nc = claims
    cy = 2023 + rng.integers(0, 2, nc)
    cm = 1 + rng.integers(0, 12, nc)
    cd = 1 + rng.integers(0, 27, nc)
    fmt = rng.random(nc)
    occ = [
        f"{c:02d}-{b:02d}-{a:04d}" if f < 0.5
        else f"{a:04d}-{b:02d}-{c:02d}" if f < 0.85
        else f"{b:02d}/{c:02d}/{a:04d}"
        for a, b, c, f in zip(cy, cm, cd, fmt)
    ]
    indem = np.array(
        [f"{v}€" for v in np.round(rng.uniform(50, 15000, nc), 2)], dtype=object
    )
    claims_df = pd.DataFrame(
        {
            "claim_id": [f"CLM_{i:07d}" for i in range(nc)],
            "contract_id": [f"CTR_{v:07d}" for v in rng.integers(0, n, nc)],
            "occurrence_date": occ,
            "declaration_date": [
                f"{a:04d}-{b:02d}-{c + 1:02d}" for a, b, c in zip(cy, cm, cd)
            ],
            "claim_type": _pick(rng, CLAIM_TYPES, nc),
            "damage_amount": [f"{v}€" for v in np.round(rng.uniform(100, 20000, nc), 2)],
            "indemnified_amount": _with_nulls(rng, indem, 0.42),
            "status": _pick(rng, CLAIM_STATUSES, nc),
            "expert_id": [f"EXP_{v:03d}" for v in rng.integers(0, 40, nc)],
            "liability": _pick(rng, LIABILITIES, nc),
        }
    )
    claims_df.to_csv(f"{raw_dir}/claims.csv", index=False)

    # -- telematics: per-device random walks; a gap of 0 is a
    # duplicate timestamp, as in the reference data
    k = events // devices
    dev_ids = np.array([f"DEV{di:029d}" for di in range(devices)], dtype=object)
    dev = np.repeat(dev_ids, k)
    gaps = rng.choice([0, 2000, 3000, 4000, 5000], (devices, k))
    t = (BASE_MS + np.arange(devices)[:, None] * 1000 + np.cumsum(gaps, axis=1)).ravel()
    is_pos = rng.random(devices * k) < 0.6
    jump = rng.random((devices, k))
    moves = gaps > 0  # a repeated timestamp repeats the fix
    dlat = moves * np.where(
        jump < 0.03, 0.5,  # ~55 km in seconds: impossible speed, filtered
        np.where(jump < 0.25, 0.002 * rng.uniform(0.8, 1.2, (devices, k)),
                 0.00005 * rng.random((devices, k))),
    )
    dlon = moves * 0.00003 * rng.random((devices, k))
    lat = (48.0 + rng.random(devices)[:, None] + np.cumsum(dlat, axis=1)).ravel()
    lon = (2.0 + rng.random(devices)[:, None] + np.cumsum(dlon, axis=1)).ravel()
    alt = rng.uniform(-20, 100, devices * k)
    sensor = rng.uniform(0, 120, devices * k)
    value = np.where(
        is_pos,
        [f"{a:.6f},{b:.6f},{c:.1f}" for a, b, c in zip(lat, lon, alt)],
        [f"{v:.1f}" for v in sensor],
    )
    tele_df = pd.DataFrame(
        {
            "deviceId": dev,
            "timeMili": t.astype(float),
            "timestamp": "2024-01-01 00:00:00.000000",
            "value": value,
            "variable": np.where(is_pos, "POSITION", _pick(rng, SENSORS, devices * k)),
            "alarmClass": rng.integers(0, 6, devices * k),
        }
    )
    tele_df = tele_df.iloc[rng.permutation(len(tele_df))].reset_index(drop=True)
    tele_df.to_csv(f"{raw_dir}/telematics.csv", index=False)

    # -- device mapping: every device owned by an existing client
    map_df = pd.DataFrame(
        {
            "deviceId": dev_ids,
            "customer_id": [f"CLI_{v:07d}" for v in rng.integers(0, n_clients, devices)],
        }
    )
    map_df.to_csv(f"{raw_dir}/device_mapping.csv", index=False)

    frames = (contracts_df, vehicles_df, claims_df, tele_df, map_df)
    files = [
        "contracts.csv", "vehicles.csv", "claims.csv", "telematics.csv",
        "device_mapping.csv",
    ]
    return InsuranceInputs(
        raw_dir=raw_dir,
        rows=sum(len(f) for f in frames),
        bytes=sum(os.path.getsize(f"{raw_dir}/{f}") for f in files),
        contracts=contracts_df,
        vehicles=vehicles_df,
        claims=claims_df,
        telematics=tele_df,
        device_mapping=map_df,
    )


# ---------------------------------------------------------------------------
# corpus_curation: documents with planted duplicates + embeddings with
# planted neighbours
# ---------------------------------------------------------------------------

VOCAB_SIZE = 20_000
DOC_WORDS = 60
EMBED_DIM = 128


@dataclass
class CorpusInputs:
    docs_path: str
    vecs_path: str
    rows: int
    bytes: int
    texts: list[str]
    n_chars: list[int]
    exact_groups: list[list[int]] = field(default_factory=list)
    near_groups: list[list[int]] = field(default_factory=list)
    vectors: np.ndarray | None = None
    twin_pairs: list[tuple[int, int]] = field(default_factory=list)


def corpus(
    out_dir: str,
    seed: int,
    docs: int,
    dup_rate: float,
    vectors: int,
    twin_rate: float,
) -> CorpusInputs:
    """Documents: ``docs`` rows drawn from a 20k-word vocabulary, of
    which a ``dup_rate`` share are planted copies — half verbatim
    (exact duplicates) and half with one or two words replaced
    (3-shingle Jaccard >= 0.8). Unrelated documents share no 3-gram in
    practice, so the planted groups are the whole duplicate truth.

    Embeddings: ``vectors`` random 128-d rows of which a ``twin_rate``
    share are near copies of another row (cosine ~0.995); random rows
    sit near cosine 0, so the planted pairs are the whole truth above
    0.9."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(VOCAB_SIZE)], dtype=object)
    n_planted = int(docs * dup_rate)
    n_base = docs - n_planted
    words = [list(vocab[rng.integers(0, VOCAB_SIZE, DOC_WORDS)]) for _ in range(n_base)]
    texts = [" ".join(w) for w in words]
    # planted copies point at distinct base documents: each planted
    # group is one base doc plus exactly one copy
    srcs = rng.choice(n_base, n_planted, replace=False)
    exact_groups, near_groups = [], []
    for j, src in enumerate(srcs):
        new_id = n_base + j
        if j % 2 == 0:
            texts.append(texts[src])
            exact_groups.append([int(src), new_id])
        else:
            w = list(words[src])
            for pos in rng.choice(DOC_WORDS, 1 + (j // 2) % 2, replace=False):
                w[pos] = f"x{rng.integers(0, 10**9)}"
            texts.append(" ".join(w))
            near_groups.append([int(src), new_id])
    # doc ids are shuffled so planted copies are not clustered by id
    perm = rng.permutation(docs)
    ids = perm  # row i of `texts` gets doc id perm[i]
    n_chars = [len(t) for t in texts]
    by_id_text = [None] * docs
    by_id_chars = [0] * docs
    for i, t in enumerate(texts):
        by_id_text[ids[i]] = t
        by_id_chars[ids[i]] = n_chars[i]
    exact_groups = [[int(ids[a]), int(ids[b])] for a, b in exact_groups]
    near_groups = [[int(ids[a]), int(ids[b])] for a, b in near_groups]
    docs_path = f"{out_dir}/documents.parquet"
    pq.write_table(
        pa.table({
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": by_id_text,
            "lang": _pick(rng, ["en", "fr", "de"], docs).tolist(),
            "source": _pick(rng, ["web", "books", "code"], docs).tolist(),
            "n_chars": np.asarray(by_id_chars, dtype=np.int64),
        }),
        docs_path,
    )

    vecs = rng.standard_normal((vectors, EMBED_DIM))
    n_twins = int(vectors * twin_rate)
    twin_src = rng.choice(vectors - n_twins, n_twins, replace=False)
    twin_pairs = []
    for j, src in enumerate(twin_src):
        dst = vectors - n_twins + j
        vecs[dst] = vecs[src] + 0.1 * rng.standard_normal(EMBED_DIM)
        twin_pairs.append((int(src), int(dst)))
    vecs = vecs.astype(np.float32)
    vecs_path = f"{out_dir}/embeddings.parquet"
    pq.write_table(
        pa.table({
            "vec_id": np.arange(vectors, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, vectors).astype(np.int32)),
        }),
        vecs_path,
    )
    return CorpusInputs(
        docs_path=docs_path,
        vecs_path=vecs_path,
        rows=docs + vectors,
        bytes=os.path.getsize(docs_path) + os.path.getsize(vecs_path),
        texts=by_id_text,
        n_chars=by_id_chars,
        exact_groups=exact_groups,
        near_groups=near_groups,
        vectors=vecs,
        twin_pairs=twin_pairs,
    )
