"""Seeded input generators for the benchmark.

Two kinds of input:

- ``write_tables``: the ten query tables (TPC-H-ish star schema, an
  ``events`` stream table, ``documents`` and ``embeddings``) with the
  Arrow schemas listed in FIXTURES.md section 1 (dates as
  ``timestamp[ms]``, ``events.ts`` as ``timestamp[ns]``, so the catalog
  takes its nanos branch) and the value domains and row ratios of the
  engine's test data, at a given scale. Each table is one parquet file,
  as the catalog and the streaming readers expect.
- ``export_frames``: an OnaData-style CSV form export (system columns,
  ``n/a`` nulls, group-prefixed questions and space-delimited
  select-multiples) plus a 10 % upsert delta; ``export_truth`` gives the
  pandas truth the sync workload checks its extract against.

Everything is drawn from ``numpy.random.default_rng(seed)``: the same
arguments give the same bytes.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (("en", 0.4), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.15))
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + days).astype("datetime64[ms]")


def _pick(rng, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng, n_docs: int) -> pd.DataFrame:
    lengths = rng.integers(10, 101, n_docs)
    vocab = np.asarray(WORDS, dtype=object)
    text = [" ".join(vocab[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # ~5 % near duplicates (an earlier document plus a marker word) and a
    # few exact duplicates, so dedup operators have work to find
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        text[i] = text[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n_docs), max(2, n_docs // 600), replace=False):
        text[i] = text[rng.integers(0, i)]
    langs, weights = zip(*LANGS)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": text,
            "lang": _pick(rng, langs, n_docs, p=weights),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def _embeddings(rng, n_vecs: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centroids = rng.normal(0.0, 0.07, (10, dim))
    vecs = rng.normal(0.0, 1.0, (n_vecs, dim)) / np.sqrt(dim) + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def table_frames(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict:
    """The ten query tables as pandas frames (``embeddings`` as an Arrow
    table), sized like the engine's test data at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_supp, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = np.int32
    t = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS)}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(i32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    offsets_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    ts = np.datetime64("2024-01-01", "us") + offsets_us.astype("timedelta64[us]")
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts.astype("datetime64[ns]"),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def write_tables(out_dir, seed: int, sf: float, n_docs: int, n_vecs: int) -> None:
    """Write the ten tables as ``<out_dir>/<name>.parquet``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, frame in table_frames(seed, sf, n_docs, n_vecs).items():
        table = frame if isinstance(frame, pa.Table) else pa.Table.from_pandas(frame, preserve_index=False)
        pq.write_table(table, out_dir / f"{name}.parquet")


# ---------------------------------------------------------------- export

N_SELECT_MULTIPLE = 12
N_CHOICES = 8
GROUPS = ("services", "household/assets", "health/symptoms")
DISTRICTS = tuple(f"district_{i:02d}" for i in range(20))


def select_multiples() -> dict[str, list[str]]:
    """Select-multiple question (full CSV column name) → its declared
    choices, as the form metadata would list them."""
    return {
        f"{GROUPS[k % len(GROUPS)]}/sm{k:02d}": [f"c{j}" for j in range(N_CHOICES)]
        for k in range(N_SELECT_MULTIPLE)
    }


def _submissions(rng, ids: np.ndarray, day0: str) -> pd.DataFrame:
    n = len(ids)
    income = np.round(rng.lognormal(7.5, 0.8, n), 2).astype(object)
    income[rng.random(n) < 0.05] = "n/a"
    seconds = np.sort(rng.integers(0, 90 * 86_400, n)).astype("timedelta64[s]")
    frame = {
        "_id": ids,
        "_uuid": [str(uuid.UUID(bytes=rng.bytes(16), version=4)) for _ in range(n)],
        "_submission_time": (np.datetime64(day0, "s") + seconds).astype(str),
        "_status": _pick(rng, ("submitted_via_web", "approved"), n, p=(0.9, 0.1)),
        "respondent_name": [f"respondent_{i}" for i in ids],
        "age": rng.integers(18, 91, n),
        "household_income": income,
        "consented": _pick(rng, ("yes", "no"), n),
        "demographics/gender": _pick(rng, ("female", "male", "other"), n),
        "demographics/location/district": _pick(rng, DISTRICTS, n),
        "visit_date": (np.datetime64(day0, "D") + rng.integers(0, 90, n)).astype(str),
    }
    # every subset of the choices as its space-delimited export string,
    # indexed by the subset's bitmask ("" for none: an n/a-style null)
    subsets = np.array(
        [" ".join(f"c{j}" for j in range(N_CHOICES) if m >> j & 1) for m in range(1 << N_CHOICES)],
        dtype=object,
    )
    weights = 1 << np.arange(N_CHOICES)
    for q in select_multiples():
        picked = rng.random((n, N_CHOICES)) < 0.3
        frame[q] = subsets[picked @ weights]
    return pd.DataFrame(frame)


def export_frames(seed: int, rows: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The base export and its upsert delta: ``rows // 20`` updated
    submissions (same ``_id`` and ``_uuid``, new answers) and
    ``rows // 20`` new ones."""
    rng = np.random.default_rng(seed)
    base = _submissions(rng, np.arange(1, rows + 1, dtype=np.int64), "2024-01-01")
    n_half = rows // 20
    updated_ids = np.sort(rng.choice(base["_id"].to_numpy(), n_half, replace=False))
    new_ids = np.arange(rows + 1, rows + 1 + n_half, dtype=np.int64)
    delta = _submissions(rng, np.concatenate([updated_ids, new_ids]), "2024-04-01")
    uuids = base.set_index("_id")["_uuid"]
    delta.loc[: n_half - 1, "_uuid"] = uuids.loc[updated_ids].to_numpy()
    return base, delta.sample(frac=1.0, random_state=rng.integers(1 << 31)).reset_index(drop=True)


def _cents(values) -> int:
    v = pd.to_numeric(pd.Series(values), errors="coerce").dropna().to_numpy(np.float64)
    return int(np.floor(v * 100.0 + 0.5).sum())


def export_truth(base: pd.DataFrame, delta: pd.DataFrame) -> dict:
    """What the extract must hold after the upsert, computed with pandas:
    row count, per-district row counts and income cents, and the count
    of every select-multiple flag."""
    merged = pd.concat([base[~base["_id"].isin(delta["_id"])], delta], ignore_index=True)
    district = merged["demographics/location/district"]
    flags = []
    for q, choices in select_multiples().items():
        padded = " " + merged[q].fillna("") + " "
        flags += [int(padded.str.contains(f" {c} ", regex=False).sum()) for c in choices]
    return {
        "rows": int(len(merged)),
        "base_rows": int(len(base)),
        "changed_rows": int(len(delta)),
        "districts": {
            d: [int((district == d).sum()), _cents(merged.loc[district == d, "household_income"])]
            for d in sorted(district.unique())
        },
        "flag_counts": sorted(flags),
    }
