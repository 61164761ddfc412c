"""The three benchmark workloads.

Each workload drives the engine only through its public layer
functions, checks every result it gets against answers computed without
the engine (``inputs``), and wraps every layer call in a tracer span.

* ``taxi_csv_batch`` — the paper's job: average speed per weekday over
  12 monthly CSVs (``sources.trips`` faithful reader and listing,
  ``operators.flagship``).  Text scan and parse dominate; the shuffle
  carries |files| x 7 rows.
* ``neardup_docs`` — MinHash near-duplicate pairs and their clusters
  (``operators.dedup``, ``operators.graph``).  The Arrow MinHash kernel,
  shuffles and the iterative connected-components joins dominate; the
  verified pairs exceed the small-graph cutover, so components run
  distributed.
* ``taxi_serving`` — a closed loop of client threads over a
  month-partitioned parquet copy of the taxi corpus: 90% reads
  (flagship or global average over a blob-name prefix), 10% upserts
  into a table the client owns (``sources.sinks``).  Ops are short, so
  driver planning, file listing and job scheduling dominate.  It runs by
  name but is not among ``BENCHMARK.json``'s workloads: with three
  workloads the full set of runs does not fit the time the benchmark
  is given on a 4-core host.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import time

import inputs

JACCARD = 0.6


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, reps: int = 3) -> float:
    """Median wall time of ``fn`` over ``reps`` calls."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def _manifest(path: str) -> dict:
    with open(os.path.join(path, "manifest.json")) as fh:
        return json.load(fh)


class TaxiCsvBatch:
    name = "taxi_csv_batch"
    clients = 1

    def __init__(self, paths: dict, seed: int, work_dir: str) -> None:
        m = _manifest(paths["taxi"])
        self.glob = os.path.join(paths["taxi"], "csv", "*.csv")
        self.expected = m["oracle"]["flagship"]
        self.lines = m["oracle"]["lines"]
        self.sizes = {"bytes": m["bytes"], "lines": m["lines"], "files": m["files"]}

    def prepare(self, spark, tr) -> bool:
        """A few untimed ops, so the timed ones find the JVM's code for
        this plan compiled."""
        return all(self.op(spark, tr, "prepare", 0)[0] for _ in range(3))

    def op(self, spark, tr, op_id: str, client: int) -> tuple[bool, int, str]:
        from durablefunctions_mapreduce_dotnet_spark.operators.flagship import flagship_trips
        from durablefunctions_mapreduce_dotnet_spark.sources.trips import (
            list_csv_files,
            read_trips_csv_faithful,
        )

        with tr.span("queries.build", op_id):
            with tr.span("sources.trips.read_trips_csv_faithful", op_id):
                trips = read_trips_csv_faithful(spark, self.glob)
            with tr.span("sources.trips.list_csv_files", op_id):
                files = list_csv_files(spark, self.glob)
            with tr.span("operators.flagship.flagship_trips", op_id):
                df = flagship_trips(trips, files=files)
        with tr.span("queries.exec", op_id):
            rows = df.collect()
        ok = [r.dow for r in rows] == list(range(7)) and [r.avg_speed for r in rows] == self.expected
        return ok, self.lines, "read"

    def decompose(self, spark, tr, op_s_p50: float) -> dict:
        """Scan-only, list-only and records-only actions, each its own
        span, and the valid-row ratio of the faithful reader."""
        from durablefunctions_mapreduce_dotnet_spark.operators.flagship import trips_records
        from durablefunctions_mapreduce_dotnet_spark.sources.trips import (
            list_csv_files,
            read_trips_csv_faithful,
        )

        def spanned(name, fn):
            def run():
                with tr.span(name, "decompose"):
                    fn()
            return run

        scan = _timed(spanned("sources.trips.scan", lambda: _noop(read_trips_csv_faithful(spark, self.glob))))
        lst = _timed(spanned("sources.trips.list", lambda: _noop(list_csv_files(spark, self.glob))))
        records = _timed(spanned(
            "functions.taxi.records", lambda: _noop(trips_records(read_trips_csv_faithful(spark, self.glob)))
        ))
        with tr.span("sources.trips.valid_count", "decompose"):
            valid = read_trips_csv_faithful(spark, self.glob).count()
            lines = spark.read.text(self.glob).count()
        return {
            "sources.trips.scan_s": scan,
            "sources.trips.list_s": lst,
            "sources.trips.valid_ratio": valid / lines,
            "functions.taxi.records_self_s": records - scan,
            "operators.flagship.self_s": op_s_p50 - records - lst,
        }


class NeardupDocs:
    name = "neardup_docs"
    clients = 1

    def __init__(self, paths: dict, seed: int, work_dir: str) -> None:
        m = _manifest(paths["docs"])
        self.dir = paths["docs"]
        self.n_docs = m["docs"]
        self.sizes = {k: m[k] for k in ("docs", "planted_clusters", "planted_pairs", "bytes")}
        self.expected = None
        self.problems: list[str] = []

    def _pairs(self, spark):
        from durablefunctions_mapreduce_dotnet_spark.operators.dedup import minhash_near_dup_pairs
        from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table

        d = read_table(spark, self.dir, "documents")
        return d, minhash_near_dup_pairs(d, threshold=JACCARD).select("id_a", "id_b")

    @staticmethod
    def _digest(rows) -> str:
        return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()

    def prepare(self, spark, tr) -> bool:
        """Once per run, untimed: every verified pair must have exact
        9-shingle Jaccard >= 0.6, and there must be more of them than
        the small-graph cutover.  The union-find components of those
        pairs are the clusters every timed op must return (compared by
        digest), this first untimed run of the components included.
        Running the op's plans here also compiles them before timing."""
        import pyarrow.parquet as pq

        from durablefunctions_mapreduce_dotnet_spark.operators.graph import (
            canonicalize_clusters,
            local_checkpoint,
        )

        d, pairs_df = self._pairs(spark)
        pairs_df = local_checkpoint(pairs_df)
        pairs = [(r.id_a, r.id_b) for r in pairs_df.collect()]
        got = canonicalize_clusters(d, pairs_df, pairs_distinct_ordered=True).collect()
        t = pq.read_table(os.path.join(self.dir, "documents.parquet")).to_pydict()
        docs = dict(zip(t["doc_id"], t["text"]))
        self.problems = inputs.check_pairs(docs, pairs)
        if len(pairs) <= 65_536:
            self.problems.append(
                f"{len(pairs)} verified pairs: not above the 65,536-edge small-graph "
                "cutover, so connected components would not run distributed"
            )
        labels = inputs.cluster_labels(docs, pairs)
        self.expected = self._digest([(i, c, i == c) for i, c in labels.items()])
        if self._digest([(r.doc_id, r.cluster_id, r.keep) for r in got]) != self.expected:
            self.problems.append("clusters differ from the union-find components of the pairs")
        self.sizes["verified_pairs"] = len(pairs)
        return not self.problems

    def op(self, spark, tr, op_id: str, client: int) -> tuple[bool, int, str]:
        from durablefunctions_mapreduce_dotnet_spark.operators.dedup import minhash_near_dup_pairs
        from durablefunctions_mapreduce_dotnet_spark.operators.graph import canonicalize_clusters
        from durablefunctions_mapreduce_dotnet_spark.sources.readers import read_table

        with tr.span("queries.build", op_id):
            with tr.span("sources.readers.read_table", op_id):
                d = read_table(spark, self.dir, "documents")
            with tr.span("operators.dedup.minhash_near_dup_pairs", op_id):
                pairs = minhash_near_dup_pairs(d, threshold=JACCARD).select("id_a", "id_b")
            with tr.span("operators.graph.canonicalize_clusters", op_id):
                out = canonicalize_clusters(d, pairs, pairs_distinct_ordered=True)
        with tr.span("queries.exec", op_id):
            rows = out.collect()
        ok = self._digest([(r.doc_id, r.cluster_id, r.keep) for r in rows]) == self.expected
        return ok, self.n_docs, "read"

    def decompose(self, spark, tr, op_s_p50: float) -> dict:
        """Pairs-only action, and the exact LSH candidate count."""
        from durablefunctions_mapreduce_dotnet_spark.operators.dedup import (
            banded_pairs_from_buckets,
            shingle_minhash_table_fast,
        )
        from durablefunctions_mapreduce_dotnet_spark.operators.graph import local_checkpoint

        from sparkstats import release_cached

        def pairs_only():
            with tr.span("operators.dedup.pairs", "decompose"):
                self._pairs(spark)[1].count()
            release_cached(spark)

        pairs_s = _timed(pairs_only)
        with tr.span("operators.dedup.candidates", "decompose"):
            d, _ = self._pairs(spark)
            tbl = local_checkpoint(shingle_minhash_table_fast(d, bands=21))
            candidates = banded_pairs_from_buckets(tbl.select("doc_id", "buckets")).count()
        release_cached(spark)
        pairs = self.sizes["verified_pairs"]
        return {
            "operators.dedup.pairs_s": pairs_s,
            "operators.dedup.candidates": float(candidates),
            "operators.dedup.pairs": float(pairs),
            "operators.dedup.verify_yield": pairs / candidates,
            "operators.graph.cc_self_s": op_s_p50 - pairs_s,
        }


class TaxiServing:
    name = "taxi_serving"
    write_share = 0.1

    def __init__(self, paths: dict, seed: int, work_dir: str) -> None:
        self.clients = len(os.sched_getaffinity(0))
        m = _manifest(paths["taxi"])
        o = _manifest(paths["owned"])
        self.csv_glob = os.path.join(paths["taxi"], "csv", "*.csv")
        self.prefixes = m["oracle"]["prefixes"]
        self.owned_src = paths["owned"]
        self.owned_rows, self.batches, self.inserts = o["owned_rows"], o["batches"], o["batch_inserts"]
        self.table = os.path.join(work_dir, "trips")
        self.work_dir = work_dir
        self.sizes = {"bytes": m["bytes"], "rows": m["oracle"]["valid_rows"], "clients": self.clients}
        self.seed = seed
        self.state: list[dict] = []

    def _owned(self, c: int) -> str:
        return os.path.join(self.work_dir, f"owned-{c}")

    def prepare(self, spark, tr) -> bool:
        """Write the shared read table and each client's own table
        through ``sources.sinks``; one parquet file per month, so the
        per-file average is the per-month average the oracle computes.
        Each client gets its own session: ``merge_upsert_partitioned``
        sets a session-level conf while it writes.  Then one untimed
        read of each kind."""
        from pyspark.sql import functions as F

        from durablefunctions_mapreduce_dotnet_spark.sources.sinks import write_parquet_partitioned
        from durablefunctions_mapreduce_dotnet_spark.sources.trips import read_trips_csv_faithful

        shutil.rmtree(self.work_dir, ignore_errors=True)
        src = read_trips_csv_faithful(spark, self.csv_glob)
        src = src.withColumn("src", F.regexp_extract("file", r"([^/]+)\.csv$", 1)).drop("file")
        write_parquet_partitioned(src.repartition("src"), self.table, partition_by=["src"])
        self.state = []
        for c in range(self.clients):
            owned = spark.read.parquet(
                os.path.join(self.owned_src, f"owned-{c % inputs.SERVING_CLIENTS}.parquet")
            )
            write_parquet_partitioned(owned, self._owned(c), partition_by=["src"])
            self.state.append({
                "session": spark.newSession(),
                "rng": random.Random(f"{self.seed}-{c}"),
                "applied": set(),
                "next": 0,
            })
        return all(self._read(spark, tr, "prepare", p, k)[0] for p, k in (
            (inputs.SERVING_PREFIXES[0], "flagship"), (inputs.SERVING_PREFIXES[0], "global")
        ))

    def op(self, spark, tr, op_id: str, client: int) -> tuple[bool, int, str]:
        st = self.state[client]
        session = st["session"]
        if st["rng"].random() < self.write_share:
            return self._write(session, tr, op_id, client, st)
        prefix = st["rng"].choice(inputs.SERVING_PREFIXES)
        kind = st["rng"].choice(["flagship", "global"])
        return self._read(session, tr, op_id, prefix, kind)

    def _read(self, session, tr, op_id, prefix, kind) -> tuple[bool, int, str]:
        from durablefunctions_mapreduce_dotnet_spark.operators.flagship import (
            flagship_trips,
            global_avg_by_dow,
            trips_records,
        )
        from durablefunctions_mapreduce_dotnet_spark.sources.trips import read_trips_parquet

        with tr.span("queries.build", op_id):
            trips = read_trips_parquet(session, f"{self.table}/src={prefix}*")
            df = flagship_trips(trips) if kind == "flagship" else global_avg_by_dow(trips_records(trips))
        with tr.span("queries.exec", op_id):
            rows = df.collect()
        exp = self.prefixes[prefix]
        ok = [r.dow for r in rows] == list(range(7)) and [r.avg_speed for r in rows] == exp[kind]
        return ok, exp["rows"], "read"

    def _write(self, session, tr, op_id, client, st) -> tuple[bool, int, str]:
        from pyspark.sql import functions as F

        from durablefunctions_mapreduce_dotnet_spark.sources.sinks import merge_upsert_partitioned

        b = st["next"]
        st["next"] = (b + 1) % self.batches
        src = os.path.join(self.owned_src, f"batches-{client % inputs.SERVING_CLIENTS}.parquet")
        with tr.span("sources.sinks.merge_upsert_partitioned", op_id):
            updates = session.read.parquet(src).where(F.col("batch") == b).drop("batch")
            merge_upsert_partitioned(session, self._owned(client), updates, ["trip_id"], "src")
        st["applied"].add(b)
        with tr.span("queries.exec", op_id):
            n = session.read.parquet(self._owned(client)).count()
        ok = n == self.owned_rows + self.inserts * len(st["applied"])
        return ok, inputs.BATCH_UPDATES + inputs.BATCH_INSERTS, "write"

    def decompose(self, spark, tr, op_s_p50: float) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (TaxiCsvBatch, NeardupDocs, TaxiServing)}
