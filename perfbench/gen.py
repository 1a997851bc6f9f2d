"""Seeded input generators for the benchmark.

Everything the engine reads in a benchmark run is written here, from
one `numpy.random.Generator` per table, so the same seed gives
byte-identical inputs. Shapes follow the engine's fixture schemas
(FIXTURES.md): the TPC-H-ish star, the reference-shaped `events`
table, `documents` and 64-d `embeddings`. Sizes are the sf0.1 ones
unless a workload asks for more vectors.

Parquet is written with pyarrow, one file and one row group per
table, like the fixture tables; only the content varies with the
seed, so a run's cost does not depend on a seed-chosen file layout.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BUCKET_S = 300  # the landing job's 5-minute logdate width
_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_PROPS = [f'{{"k": {k}}}' for k in range(100)]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "en", "zh", "es", "fr", "de"]  # en ≈ 40%, others ≈ 15%


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table, stable under reordering."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _ts_us(epoch_s: np.ndarray, tz: str | None = None) -> pa.Array:
    micros = np.round(epoch_s * 1e6).astype("int64")
    return pa.array(micros, type=pa.timestamp("us", tz=tz))


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(values).take(pa.array(idx))


# --- landing backlog -----------------------------------------------------


def logdate_of(epoch_s: np.ndarray) -> np.ndarray:
    """UTC `yyyyMMddHHmm` of each event's 5-minute bucket start (the
    engine's derive_logdate with the default SinkConfig)."""
    starts = (np.floor(epoch_s).astype("int64") // BUCKET_S) * BUCKET_S
    iso = np.datetime_as_string(starts.astype("datetime64[s]"), unit="m")
    return np.char.replace(
        np.char.replace(np.char.replace(iso, "-", ""), "T", ""), ":", ""
    )


def logdate_start(logdate: str) -> int:
    """Epoch seconds of a `yyyyMMddHHmm` bucket start (UTC)."""
    iso = f"{logdate[:4]}-{logdate[4:6]}-{logdate[6:8]}T{logdate[8:10]}:{logdate[10:12]}"
    return int(np.datetime64(iso, "s").astype("int64"))


@dataclass
class Backlog:
    """A staged landing backlog plus the generator's own truth."""

    files: list[str]
    rows: int
    per_logdate: dict[str, int]
    max_ts: float

    def closed_logdates(self) -> set[str]:
        """Logdates whose window ended at or before the final
        high-water event time: each must be notified at least once."""
        return {
            ld for ld in self.per_logdate
            if logdate_start(ld) + BUCKET_S <= self.max_ts
        }


def event_backlog(
    out_dir: str,
    seed: int,
    n_files: int,
    rows_per_file: int,
    span_s: float,
    late_share: float = 0.03,
) -> Backlog:
    """`n_files` parquet files in the `events` schema, one micro-batch
    each. File i nominally covers event time [t0 + i*span_s,
    t0 + (i+1)*span_s); `span_s` is chosen by callers not to divide
    the 5-minute bucket, so file edges fall inside buckets. About
    `late_share` of each file's rows are held back and delivered 1-4
    files later with their original event time — late data that
    reopens an already-notified logdate. File mtimes increase
    strictly (one second apart) so file order is batch order."""
    rng = _rng(seed, "backlog")
    os.makedirs(out_dir, exist_ok=True)
    t0 = _EPOCH_2024 + 37.25
    parts: list[list[np.ndarray]] = [[] for _ in range(n_files)]
    for i in range(n_files):
        ts = np.sort(t0 + (i + rng.random(rows_per_file)) * span_s)
        target = i + np.where(
            rng.random(rows_per_file) < late_share,
            rng.integers(1, 5, size=rows_per_file),
            0,
        )
        target[target >= n_files] = i
        for j in np.unique(target).tolist():
            parts[j].append(ts[target == j])
    files = []
    counts: dict[str, int] = {}
    mtime0 = 1_700_000_000
    next_id = 0
    max_ts = 0.0
    for i in range(n_files):
        ts = np.concatenate(parts[i])
        n = len(ts)
        ids = np.arange(next_id, next_id + n, dtype="int64")
        next_id += n
        table = pa.table(
            {
                "event_id": ids,
                "ts": _ts_us(ts, tz="UTC"),
                "user_id": rng.integers(0, 1500, size=n, dtype="int64"),
                "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, size=n)),
                "value": np.round(rng.exponential(50.0, size=n), 2),
                "props": _pick(_PROPS, rng.integers(0, 100, size=n)),
            }
        )
        path = os.path.join(out_dir, f"batch_{i:05d}.parquet")
        _write(table, path)
        os.utime(path, (mtime0 + i, mtime0 + i))
        files.append(path)
        # truncate to µs exactly as the file stores it before bucketing
        stored = np.round(ts * 1e6).astype("int64") // 1_000_000
        lds, cnt = np.unique(logdate_of(stored.astype("float64")), return_counts=True)
        for ld, c in zip(lds.tolist(), cnt.tolist()):
            counts[ld] = counts.get(ld, 0) + int(c)
        max_ts = max(max_ts, float(np.round(ts.max() * 1e6)) / 1e6)
    return Backlog(files, sum(counts.values()), counts, max_ts)


# --- relational + north-star tables -------------------------------------


def _events_table(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(_EPOCH_2024 + rng.random(n) * 30 * 86400)
    return pa.table(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": _ts_us(ts),
            "user_id": rng.integers(0, 1500, size=n, dtype="int64"),
            "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, size=n)),
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": _pick(_PROPS, rng.integers(0, 100, size=n)),
        }
    )


def _documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    # ~5% carry a trailing marker token; 8 exact duplicate pairs
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[i] + " dup"
    for a, b in rng.choice(n, size=(8, 2), replace=False):
        texts[b] = texts[a]
    ids = np.arange(n, dtype="int64")
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(_LANGS, rng.integers(0, len(_LANGS), size=n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def embeddings_table(seed: int, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Gaussian mixture of unit-norm float32 vectors: `labels` random
    unit centres, each vector a weak pull towards its label's centre
    plus isotropic noise, renormalized (the fixture's shape: labels
    barely separable, no near-duplicate pairs)."""
    rng = _rng(seed, "embed")
    centres = rng.standard_normal((labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    lab = rng.integers(0, labels, size=n).astype("int32")
    x = 0.5 * centres[lab] + rng.standard_normal((n, dim)) / np.sqrt(dim) * 4.0
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.reshape(-1)), dim)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": lab,
        }
    )


def star_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """The TPC-H-ish star plus events and documents at scale `sf`
    (sf0.1: 600k lineitem, 150k orders, 100k events, 5k documents)."""
    rng = _rng(seed, "star")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    day0 = 788_918_400  # 1995-01-01
    days = 2405
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": _pick(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    rng.integers(0, 5, n_cust),
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": _pick(
                    [
                        f"{a} {b}"
                        for a in "blue cold hot large old red small tiny".split()
                        for b in "anvil bolt gear gizmo plate ring rod widget".split()
                    ],
                    rng.integers(0, 64, n_part),
                ),
                "p_brand": _pick(
                    [f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n_part)
                ),
                "p_type": _pick(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                    rng.integers(0, 6, n_part),
                ),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord, dtype="int64"),
                "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
                "o_orderdate": _ts_us(
                    day0 + rng.integers(0, days, n_ord) * 86400.0
                ),
                "o_orderpriority": _pick(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    rng.integers(0, 5, n_ord),
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li, dtype="int64"),
                "l_partkey": rng.integers(0, n_part, n_li, dtype="int64"),
                "l_suppkey": rng.integers(0, n_supp, n_li, dtype="int64"),
                "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_li)),
                "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_li)),
                "l_shipdate": _ts_us(
                    day0 + 86400.0 + rng.integers(0, 2499, n_li) * 86400.0
                ),
            }
        ),
        "events": _events_table(rng, n_ev),
        "documents": _documents_table(rng, n_doc),
    }
    return out


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> dict[str, int]:
    """One `<name>.parquet` file per table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
