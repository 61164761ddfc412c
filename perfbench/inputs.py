"""Seeded input generators and correctness oracles for the benchmark.

The generators and the file oracles run in a child process
(``python3 perfbench/inputs.py``), so their memory never counts toward
the benchmark's peak RSS.  Outputs are cached under ``.perfbench_cache/``
at the checkout root, keyed by corpus, seed and a hash of this file
(which holds the sizes); a cached entry is complete once its
``manifest.json`` exists.

The generators are vectorised (numpy for the random draws, DuckDB for
string formatting): a per-row Python generator is two orders of
magnitude slower at these sizes.  The oracles never import the engine:
they are DuckDB SQL plus a few lines of Python over the generated files.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

# --- taxi corpus -------------------------------------------------------------

#: lines of one monthly file before its ±30% size jitter
TAXI_ROWS_PER_MONTH = 25_000
TAXI_HEADER = (
    "VendorID,tpep_pickup_datetime,tpep_dropoff_datetime,passenger_count,"
    "trip_distance,RatecodeID,store_and_fwd_flag,PULocationID,DOLocationID,"
    "payment_type,fare_amount,extra,mta_tax,tip_amount,tolls_amount,"
    "improvement_surcharge,total_amount"
)
#: epoch seconds of 2017-01-01 .. 2018-01-01, month starts
_MONTH_START_S = (
    np.arange("2017-01", "2018-02", dtype="datetime64[M]").astype("datetime64[s]").astype(np.int64)
)


def taxi_file_name(month: int) -> str:
    return f"yellow_tripdata_2017-{month:02d}.csv"


def gen_taxi(out_dir: str, seed: int) -> dict:
    """12 headered monthly CSVs in the reference's shape and dirt.

    Line kinds, drawn per line: a well-formed 17-field row, a short row
    (16 fields), a row whose VendorID is not an int, and a blank line.
    Well-formed rows carry zero distances, zero durations (infinite
    speed) and negative durations (negative speed, kept by the
    reference) at fixed rates.  Month sizes vary by ±30%.
    """
    import duckdb
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    total_lines = total_bytes = 0
    for m in range(1, 13):
        n = int(TAXI_ROWS_PER_MONTH * rng.uniform(0.7, 1.3))
        lo, hi = _MONTH_START_S[m - 1], _MONTH_START_S[m]
        pu = rng.integers(lo, hi, n)
        kind_dur = rng.random(n)
        dur = np.where(
            kind_dur < 0.02, 0,
            np.where(kind_dur < 0.03, -rng.integers(60, 600, n), rng.integers(120, 5400, n)),
        )
        dist = np.where(rng.random(n) < 0.015, 0.0, np.round(rng.uniform(0.2, 15.0, n), 2))
        u = rng.random(n)
        # 0 = well-formed, 1 = short row, 2 = non-int VendorID, 3 = blank line
        kind = np.select([u < 0.05, u < 0.09, u < 0.12], [1, 2, 3], 0)
        cols = {
            "kind": kind.astype(np.int8),
            "vendor": rng.integers(1, 3, n).astype(np.int8),
            "pu": pu * 1_000_000,
            "dof": (pu + dur) * 1_000_000,
            "pc": rng.integers(1, 7, n).astype(np.int8),
            "dist": dist,
            "pul": rng.integers(1, 266, n).astype(np.int16),
            "dol": rng.integers(1, 266, n).astype(np.int16),
            "pay": rng.integers(1, 5, n).astype(np.int8),
            "flag": rng.random(n) < 0.01,
        }
        tbl = pa.table(cols)  # noqa: F841 — scanned by DuckDB below
        lines = con.execute(
            """
            WITH r AS (
              SELECT *, round(2.5 + dist * 2.5, 2) AS fare FROM tbl
            ), f AS (
              SELECT kind, [
                CASE WHEN kind = 2 THEN 'N/A' ELSE CAST(vendor AS VARCHAR) END,
                strftime(make_timestamp(pu), '%Y-%m-%d %H:%M:%S'),
                strftime(make_timestamp(dof), '%Y-%m-%d %H:%M:%S'),
                CAST(pc AS VARCHAR), CAST(dist AS VARCHAR), '1',
                CASE WHEN flag THEN 'Y' ELSE 'N' END,
                CAST(pul AS VARCHAR), CAST(dol AS VARCHAR), CAST(pay AS VARCHAR),
                CAST(fare AS VARCHAR), '0.5', '0.5',
                CAST(round(fare * 0.15, 2) AS VARCHAR), '0.0', '0.3',
                CAST(round(fare * 1.2, 2) AS VARCHAR)
              ] AS v FROM r
            )
            SELECT CASE kind
                     WHEN 3 THEN ''
                     WHEN 1 THEN array_to_string(v[1:16], ',')
                     ELSE array_to_string(v, ',') END
            FROM f
            """
        ).fetchnumpy()
        body = next(iter(lines.values()))
        text = TAXI_HEADER + "\n" + "\n".join(body.tolist()) + "\n"
        with open(os.path.join(out_dir, taxi_file_name(m)), "w", newline="\n") as fh:
            fh.write(text)
        total_lines += n + 1
        total_bytes += len(text)
    return {"files": 12, "lines": total_lines, "bytes": total_bytes}


# Reference-faithful per-(file, dow) partials over the CSVs: one line per
# row (a delimiter that never occurs keeps each line whole), naive comma
# split, 17 fields, int field 0, speed = dist / hours with NULL for a zero
# duration, distance > 0, finite speed.  The per-row speed is cast to
# decimal THROUGH ITS SHORTEST STRING, because that is how the JVM casts a
# double to a decimal (``BigDecimal(Double.toString(d))``, HALF_UP);
# DuckDB's direct cast rounds the binary value and disagrees on values
# whose shortest form ends in a 5 at the tenth decimal.
_TAXI_LINES = """
  SELECT filename AS file, string_split(line, ',') AS f
  FROM read_csv(?, columns={'line': 'VARCHAR'}, delim=chr(1), quote='', escape='',
                header=false, filename=true, auto_detect=false)
"""
_TAXI_PARTIALS_SQL = f"""
WITH fields AS ({_TAXI_LINES}), valid AS (
  SELECT file,
         try_strptime(f[2], '%Y-%m-%d %H:%M:%S') AS pu,
         try_strptime(f[3], '%Y-%m-%d %H:%M:%S') AS dof,
         TRY_CAST(f[5] AS DOUBLE) AS dist
  FROM fields
  WHERE len(f) = 17 AND TRY_CAST(f[1] AS INTEGER) IS NOT NULL
), src AS (
  SELECT file, CAST(dayofweek(pu) AS INTEGER) AS dow,
         dist / ((epoch_us(dof) - epoch_us(pu)) / 3600000000.0) AS speed
  FROM valid WHERE dist > 0
)
SELECT file, dow,
       SUM(CAST(CAST(speed AS VARCHAR) AS DECIMAL(38,9))) AS s, COUNT(*) AS c
FROM src
WHERE speed IS NOT NULL AND NOT isnan(speed) AND NOT isinf(speed)
GROUP BY file, dow
"""
# Every file with a line is in the listing universe, valid rows or not.
_TAXI_COUNTS_SQL = f"""
WITH fields AS ({_TAXI_LINES})
SELECT file, COUNT(*) AS lines,
       COUNT(CASE WHEN len(f) = 17 AND TRY_CAST(f[1] AS INTEGER) IS NOT NULL
                  THEN 1 END) AS valid
FROM fields GROUP BY file
"""


def _dec9(x: float):
    """Spark's double -> decimal(38,9) cast: shortest string, HALF_UP."""
    return Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)


def avg_of_file_averages(partials: dict, files: list[str]) -> list[float]:
    """The reference's reducer over (file, dow) -> (decimal sum, count):
    per weekday, the unweighted mean of per-file means, where a file
    with no qualifying trip on that weekday contributes 0.0."""
    out = []
    for dow in range(7):
        tot = sum(
            (_dec9(float(partials[(f, dow)][0]) / partials[(f, dow)][1])
             if (f, dow) in partials else _dec9(0.0))
            for f in files
        )
        out.append(float(tot) / len(files))
    return out


def global_avg(partials: dict, files: list[str]) -> list[float]:
    """Plain average speed per weekday over the given files."""
    out = []
    for dow in range(7):
        keys = [(f, dow) for f in files if (f, dow) in partials]
        out.append(float(sum(partials[k][0] for k in keys)) / sum(partials[k][1] for k in keys))
    return out


#: reference-style blob-name prefixes the serving clients ask for: the
#: whole year, the two listing prefixes that match several months (the
#: reference's own ``yellow_tripdata_2017-1`` matches 01, 10, 11 and 12),
#: and every single month
SERVING_PREFIXES = ["yellow_tripdata_2017-", "yellow_tripdata_2017-0", "yellow_tripdata_2017-1"] + [
    f"yellow_tripdata_2017-{m:02d}" for m in range(1, 13)
]


def taxi_oracle(csv_dir: str) -> dict:
    """Expected answers over the generated CSVs: the batch job's result
    over all files, and per serving prefix the flagship and the global
    average over the matching months (whose valid rows the serving
    table holds, one parquet file per month)."""
    import duckdb

    con = duckdb.connect()
    glob = os.path.join(csv_dir, "*.csv")
    partials = {
        (os.path.basename(f), dow): (s, c)
        for f, dow, s, c in con.execute(_TAXI_PARTIALS_SQL, [glob]).fetchall()
    }
    counts = {
        os.path.basename(f): (n, v) for f, n, v in con.execute(_TAXI_COUNTS_SQL, [glob]).fetchall()
    }
    files = sorted(counts)
    prefixes = {}
    for p in SERVING_PREFIXES:
        matched = [f for f in files if f.startswith(p)]
        prefixes[p] = {
            "flagship": avg_of_file_averages(partials, matched),
            "global": global_avg(partials, matched),
            "rows": sum(counts[f][1] for f in matched),
        }
    return {
        "files": len(files),
        "lines": sum(n for n, _ in counts.values()),
        "valid_rows": sum(v for _, v in counts.values()),
        "flagship": avg_of_file_averages(partials, files),
        "prefixes": prefixes,
    }


# --- serving write side ------------------------------------------------------

SERVING_CLIENTS = 4
OWNED_MONTHS = 3
OWNED_ROWS_PER_MONTH = 2_000
BATCHES_PER_CLIENT = 40
BATCH_UPDATES = 150
BATCH_INSERTS = 50


def gen_owned(out_dir: str, seed: int) -> dict:
    """Per serving client, a small trips table it alone writes to
    (``owned-<c>.parquet``) and its seeded correction batches
    (``batches-<c>.parquet``, column ``batch``).  Every batch targets
    one month: it rewrites ``BATCH_UPDATES`` existing trips and adds
    ``BATCH_INSERTS`` new ones, so after the set S of distinct batches
    has been merged the table holds
    ``OWNED_MONTHS * OWNED_ROWS_PER_MONTH + BATCH_INSERTS * |S|`` rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n = OWNED_MONTHS * OWNED_ROWS_PER_MONTH

    def rows(ids, month_idx):
        pu = _MONTH_START_S[month_idx] + rng.integers(0, 27 * 86400, len(ids))
        return {
            "trip_id": ids.astype(np.int64),
            "VendorID": rng.integers(1, 3, len(ids)).astype(np.int32),
            "tpep_pickup_datetime": (pu * 1_000_000).astype("datetime64[us]"),
            "tpep_dropoff_datetime": ((pu + rng.integers(120, 5400, len(ids))) * 1_000_000).astype(
                "datetime64[us]"
            ),
            "trip_distance": np.round(rng.uniform(0.2, 15.0, len(ids)), 2),
            "src": np.array([taxi_file_name(month_idx + 1)[:-4]] * len(ids), dtype=object),
        }

    for c in range(SERVING_CLIENTS):
        months = np.sort(rng.choice(12, OWNED_MONTHS, replace=False))
        base_ids = np.arange(n) + c * 10_000_000
        month_of = np.repeat(months, OWNED_ROWS_PER_MONTH)
        parts = [rows(base_ids[month_of == m], m) for m in months]
        base = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
        pq.write_table(pa.table(base), os.path.join(out_dir, f"owned-{c}.parquet"))
        batches = []
        for b in range(BATCHES_PER_CLIENT):
            m = int(rng.choice(months))
            upd = rng.choice(base_ids[month_of == m], BATCH_UPDATES, replace=False)
            new = c * 10_000_000 + 5_000_000 + b * BATCH_INSERTS + np.arange(BATCH_INSERTS)
            part = rows(np.concatenate([upd, new]), m)
            part["batch"] = np.full(BATCH_UPDATES + BATCH_INSERTS, b, dtype=np.int32)
            batches.append(part)
        cols = {k: np.concatenate([p[k] for p in batches]) for k in batches[0]}
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"batches-{c}.parquet"))
    return {"clients": SERVING_CLIENTS, "owned_rows": n, "batches": BATCHES_PER_CLIENT,
            "batch_inserts": BATCH_INSERTS}


# --- near-duplicate corpus ---------------------------------------------------

#: corpus size in documents, tokens per document and per-token edit rate
DOCS_N = 3_000
DOCS_TOKENS = 40
DOCS_EDIT_RATE = 0.05
#: planted near-dup clusters are drawn until they hold this many document
#: pairs; about 80% of pairs of 40-token documents at a 5% edit rate
#: verify at Jaccard >= 0.6, which keeps verified pairs above the
#: 65,536-edge small-graph cutover of
#: ``operators.graph.connected_components`` on every seed
DOCS_PLANTED_PAIRS = 95_000
DOCS_MAX_CLUSTER = 150  # below the LSH ``max_bucket`` skew cap of 200
SHINGLE_K = 9
JACCARD_MIN = 0.6


def gen_docs(out_dir: str, seed: int) -> dict:
    """``documents.parquet`` (doc_id bigint, text string): Zipf-sized planted
    near-dup clusters, each member a copy of its cluster's base document
    with every token independently replaced at ``DOCS_EDIT_RATE``, plus
    singleton documents up to ``DOCS_N``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    vocab_lens = rng.integers(3, 10, 20_000)
    chars = letters[rng.integers(0, 26, vocab_lens.sum())]
    cuts = np.cumsum(vocab_lens)[:-1]
    vocab = np.array([b"".join(w).decode() for w in np.split(chars, cuts)], dtype=object)

    sizes, planted = [], 0
    while planted < DOCS_PLANTED_PAIRS:
        s = int(min(DOCS_MAX_CLUSTER, 1 + rng.zipf(1.5)))
        if s < 2:
            continue
        sizes.append(s)
        planted += s * (s - 1) // 2
    clustered = sum(sizes)
    if clustered > DOCS_N:
        raise ValueError(f"planted clusters hold {clustered} docs > DOCS_N={DOCS_N}")
    bases = rng.integers(0, len(vocab), (len(sizes) + DOCS_N - clustered, DOCS_TOKENS))
    owner = np.concatenate(
        [np.repeat(np.arange(len(sizes)), sizes), len(sizes) + np.arange(DOCS_N - clustered)]
    )
    toks = bases[owner]
    edit = rng.random(toks.shape) < DOCS_EDIT_RATE
    edit[clustered:] = False  # singletons are their own base
    toks[edit] = rng.integers(0, len(vocab), int(edit.sum()))
    text = [" ".join(row) for row in vocab[toks]]
    # shuffle ids so clusters are not contiguous id ranges
    ids = rng.permutation(DOCS_N).astype(np.int64)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({"doc_id": ids, "text": text}), os.path.join(out_dir, "documents.parquet"))
    return {
        "docs": DOCS_N,
        "planted_clusters": len(sizes),
        "planted_pairs": planted,
        "bytes": os.path.getsize(os.path.join(out_dir, "documents.parquet")),
    }


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    """Distinct lowercase character k-shingles (a text shorter than k is
    one shingle), the set the engine's Jaccard is defined over."""
    t = text.lower()
    return {t[i:i + k] for i in range(max(len(t) - k + 1, 1))}


def check_pairs(docs: dict[int, str], pairs: list[tuple[int, int]]) -> list[str]:
    """Problems with a verified-pair list: a pair listed twice or out of
    order, or whose exact k-shingle Jaccard is below ``JACCARD_MIN``."""
    problems = []
    if len(set(pairs)) != len(pairs):
        problems.append("duplicate pairs")
    memo: dict[int, set[str]] = {}
    for a, b in pairs:
        if a >= b:
            problems.append(f"pair ({a}, {b}) not ordered")
            continue
        sa = memo.setdefault(a, shingles(docs[a]))
        sb = memo.setdefault(b, shingles(docs[b]))
        if len(sa & sb) < JACCARD_MIN * len(sa | sb):
            problems.append(f"pair ({a}, {b}) Jaccard {len(sa & sb) / len(sa | sb):.4f}")
    return problems


def cluster_labels(ids, pairs: list[tuple[int, int]]) -> dict[int, int]:
    """doc id -> smallest id in its connected component of ``pairs``
    (its own id when it has no pair): union-find, the reference for the
    engine's distributed min-label propagation."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


# --- cache -------------------------------------------------------------------

def _build_taxi(out_dir: str, seed: int) -> dict:
    info = gen_taxi(os.path.join(out_dir, "csv"), seed)
    return {**info, "oracle": taxi_oracle(os.path.join(out_dir, "csv"))}


#: corpus -> builder, and workload -> the corpora it reads; the taxi
#: corpus is shared by the batch and serving workloads
_BUILDERS = {"taxi": _build_taxi, "docs": gen_docs, "owned": gen_owned}
CORPORA = {
    "taxi_csv_batch": ["taxi"],
    "neardup_docs": ["docs"],
    "taxi_serving": ["taxi", "owned"],
}
_KEEP_ENTRIES = 8


def _source_tag() -> str:
    """Changes whenever this file (generators, sizes, oracles) changes,
    so a cache entry is never reused across generator versions."""
    with open(os.path.abspath(__file__), "rb") as fh:
        return hashlib.sha1(fh.read()).hexdigest()[:10]


def ensure(corpus: str, seed: int) -> str:
    """Path of the complete cache entry for (corpus, seed, size), built
    on first use."""
    final = os.path.join(CACHE, f"{corpus}-s{seed}-{_source_tag()}")
    if os.path.exists(os.path.join(final, "manifest.json")):
        os.utime(final)
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = _BUILDERS[corpus](tmp, seed)
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump({"corpus": corpus, "seed": seed, **info}, fh)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    _prune()
    return final


def _prune() -> None:
    entries = [
        os.path.join(CACHE, d) for d in os.listdir(CACHE)
        if os.path.exists(os.path.join(CACHE, d, "manifest.json"))
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[_KEEP_ENTRIES:]:
        shutil.rmtree(old, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description="Build (or reuse) a workload's seeded inputs.")
    ap.add_argument("--workload", required=True, choices=sorted(CORPORA))
    ap.add_argument("--seed", required=True, type=int)
    args = ap.parse_args()
    paths = {c: ensure(c, args.seed) for c in CORPORA[args.workload]}
    print(json.dumps(paths))


if __name__ == "__main__":
    sys.exit(main())
