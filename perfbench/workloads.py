"""The benchmark's workloads: one client, closed loop, one SparkSession.

Every workload runs in three phases, in one process:

1. ``write`` (timed): the client refreshes the data it reads. It runs
   first in the session, so it pays JIT and codegen costs, as a
   ``hangar update`` style command does in its own fresh process.
2. ``warm_up`` (untimed): each read op once, so the reads' first-run
   costs are paid; results are checked here against independent truth.
3. ``read`` (timed): read ops in a closed loop until the deadline.

Every op is checked and counts as failed when it raises or returns a
wrong answer.

- ``faa_update_lookup``: the write ingests the day-1 FAA snapshot
  (fetch -> normalize -> publish, with the owners FTS index), applies
  the day-2 snapshot the same way and diffs it against day 1; the reads
  are lookups (search / fleet / fts_search / SQL) on the result.
- ``corpus_curation``: the write builds the corpus index artifacts the
  curation queries read; warm-up checks every query against its DuckDB
  oracle; the reads are passes over a fixed list of curation and
  analytics registry queries.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import statistics
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import gen_corpus
import gen_faa
from spans import Tracer

# -- results ----------------------------------------------------------------


@dataclass
class Op:
    kind: str  # write kinds: ingest, update, index_build; reads: anything else
    seconds: float
    ok: bool
    write: bool


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)  # workload figures
    errors: list[str] = field(default_factory=list)

    def add(self, kind: str, seconds: float, ok: bool, write: bool, why: str = "") -> None:
        self.ops.append(Op(kind, seconds, ok, write))
        if not ok:
            self.errors.append(f"{kind}: {why}")

    def times(self, write: bool | None = None, kind: str | None = None) -> list[float]:
        return [o.seconds for o in self.ops
                if (write is None or o.write == write) and (kind is None or o.kind == kind)]


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    return v[max(0, math.ceil(q / 100.0 * len(v)) - 1)]


def timed(tracer: Tracer, result: Result, kind: str, write: bool, fn, check) -> None:
    """Run one client op: ``fn()`` under a root span, then ``check(out)``
    -> error text or ''. The latency covers ``fn`` only."""
    ok, why = False, ""
    with tracer.op(kind):
        t = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # an op that raises is a failed op, not a crash
            dt = time.perf_counter() - t
            why = f"{type(e).__name__}: {str(e)[:200]}"
        else:
            dt = time.perf_counter() - t
            with tracer.span("bench.check"):
                try:
                    why = check(out)
                except Exception as e:
                    why = f"check raised {type(e).__name__}: {str(e)[:200]}"
            ok = not why
    result.add(kind, dt, ok, write, why)


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# -- FAA: ingest + lookup -----------------------------------------------------


class FaaWorkload:
    """Day-1 ingest and day-2 update of the FAA warehouse, then lookups."""

    name = "faa_update_lookup"
    SCALE = 0.02  # of the reference snapshot: 6,156 MASTER rows
    CHURN = 0.015

    def __init__(self, work: Path, seed: int, tracer: Tracer) -> None:
        self.work, self.seed, self.tracer = work, seed, tracer
        self.rng = random.Random(seed)  # op parameters
        self.np_rng = np.random.default_rng(seed)  # Zipf ranks

    def prepare(self) -> None:
        """Generate both snapshots and their truth (no Spark involved)."""
        day1 = gen_faa.make_snapshot(self.seed, self.SCALE)
        self.churn = gen_faa.churn(day1, self.seed, self.CHURN)
        self.days = []
        for i, snap in enumerate((day1, self.churn.day2), start=1):
            zip_path = self.work / "input" / f"day{i}" / "ReleasableAircraft.zip"
            raw_bytes = gen_faa.write_zip(snap, zip_path)
            truth = snap.truth
            # Zipf-skewed point-lookup keys: rank r drawn with weight 1/r^1.2
            keys = sorted(truth.rows_per_n)
            random.Random(self.seed + i).shuffle(keys)
            self.days.append(dict(
                snap=snap, truth=truth, zip=zip_path, raw_bytes=raw_bytes, keys=keys,
                data_dir=self.work / f"warehouse_day{i}",
                snapshot=f"2025-01-0{i}",
            ))

    def start(self, spark) -> None:
        from hangarbay_spark.api import Hangarbay

        self.spark = spark
        for d in self.days:
            d["hb"] = Hangarbay(data_dir=d["data_dir"], spark=spark)

    # -- write ---------------------------------------------------------------

    def refresh(self, result: Result, day: int) -> None:
        from hangarbay_spark.pipelines.diff import snapshot_diff
        from hangarbay_spark.pipelines.fetch import fetch_snapshot
        from hangarbay_spark.pipelines.normalize import normalize_snapshot

        d, tr = self.days[day - 1], self.tracer
        out_dir = d["data_dir"] / "parquet"

        def run():
            with tr.span("fetch") as sp:
                snap_dir = fetch_snapshot(d["data_dir"], d["snapshot"], zip_path=d["zip"])
                sp.counts["bytes_in"] = d["raw_bytes"]
            with tr.span("normalize") as sp:
                n_counts = normalize_snapshot(self.spark, snap_dir, out_dir)
            if tr.enabled:
                sp.counts["rows_out"] = sum(n_counts.values())
                sp.counts["bytes_written"] = sum(
                    dir_bytes(out_dir / f"{t}.parquet") for t in n_counts)
            with tr.span("publish") as sp:
                p_counts = d["hb"].load_data(force=True)
            if tr.enabled:
                sp.counts["fts_postings"] = p_counts.get("owners_fts", 0)
                sp.counts["bytes_written"] = (
                    dir_bytes(out_dir / "owners_summary.parquet") + dir_bytes(out_dir / "_indexes"))
            diff = None
            if day == 2:
                with tr.span("diff") as sp:
                    diff = Counter({
                        (r["table"], r["change"]): r["count"]
                        for r in snapshot_diff(
                            self.spark, str(self.days[0]["data_dir"] / "parquet"), str(out_dir)
                        ).groupBy("table", "change").count().collect()
                    })
                sp.counts["changed_keys"] = sum(diff.values())
                sp.counts["rows_compared"] = 3 * sum(len(x["snap"].master) for x in self.days)
            return n_counts, p_counts, diff

        def check(out) -> str:
            n_counts, p_counts, diff = out
            truth = d["truth"]
            if n_counts != d["snap"].expected_counts():
                return f"normalize counts {n_counts} != {d['snap'].expected_counts()}"
            if p_counts.get("owners_summary") != len(truth.rows_per_n):
                return f"owners_summary rows {p_counts.get('owners_summary')}"
            if p_counts.get("owners_fts") != truth.fts_postings:
                return f"owners_fts postings {p_counts.get('owners_fts')} != {truth.fts_postings}"
            if diff is not None and diff != self.churn.expected_diff():
                return f"diff {dict(diff)} != {dict(self.churn.expected_diff())}"
            return ""

        timed(tr, result, "ingest" if day == 1 else "update", True, run, check)
        if day == 1:
            result.extra["stored_bytes_per_input_byte"] = dir_bytes(out_dir) / d["raw_bytes"]

    # -- read ----------------------------------------------------------------

    # Op kinds in a fixed cycle, so any prefix of the loop keeps the
    # 50/20/15/15 search/fleet/fts/query mix; parameters are seeded.
    CYCLE = ["search", "fleet", "search", "fts_search", "search", "query"] * 3 + ["search", "fleet"]

    def lookup(self, result: Result, kind: str) -> None:
        d = self.days[1]
        fn, check = getattr(self, f"_op_{kind}")(d["hb"], d["truth"], d["keys"])

        def run():
            with self.tracer.span(f"api.{kind}") as sp:
                out = fn()
                sp.counts["rows"] = len(out)
            return out

        timed(self.tracer, result, kind, False, run, check)

    def _op_search(self, hb, truth, keys):
        rank = min(int(self.np_rng.zipf(1.2)), len(keys)) - 1
        n = keys[rank]
        term = f"N{n}" if self.rng.random() < 0.5 else n.lower()
        c = truth.rows_per_n[n]

        def check(df) -> str:
            if len(df) != c ** 3:
                return f"search {n}: {len(df)} rows, want {c ** 3}"
            want = truth.maker_by_n[n]
            got = {None if (isinstance(m, float) and m != m) or m is None else m
                   for m in df["maker"]}
            if got != {want}:
                return f"search {n}: maker {got} != {want!r}"
            if set(df["owner_name"]) != set(truth.owners_by_n[n]):
                return f"search {n}: owners {set(df['owner_name'])}"
            return ""

        return (lambda: hb.search(term)), check

    def _op_fleet(self, hb, truth, keys):
        term = self.rng.choice(gen_faa.BRANDS).lower()
        state = self.rng.choice(gen_faa.STATES) if self.rng.random() < 0.5 else None
        want = truth.fleet_rows(term, state)
        return (lambda: hb.fleet(term, state=state)), (
            lambda df: "" if len(df) == want else f"fleet {term}/{state}: {len(df)} != {want}"
        )

    def _op_fts_search(self, hb, truth, keys):
        q = self.rng.choice(gen_faa.BRANDS).lower()
        if self.rng.random() < 0.5:
            q += " " + self.rng.choice(gen_faa.COMPANY_WORDS).lower()
        want = truth.fts_rows(q)
        return (lambda: hb.fts_search(q)), (
            lambda df: "" if len(df) == want else f"fts {q!r}: {len(df)} != {want}"
        )

    def _op_query(self, hb, truth, keys):
        t = self.rng.randrange(3)
        if t == 0:
            year, k = self.rng.randint(1960, 2015), self.rng.randint(3, 10)
            sql = ("SELECT m.maker, COUNT(*) AS n FROM aircraft a JOIN aircraft_make_model m "
                   "ON a.mfr_mdl_code = m.mfr_mdl_code WHERE m.maker != '' AND "
                   f"a.year_mfr >= {year} GROUP BY m.maker ORDER BY n DESC, m.maker LIMIT {k}")
            want = truth.top_makers(year, k)
        elif t == 1:
            prefix = str(self.rng.randint(1, 9)) + str(self.rng.randint(0, 9))
            sql = ("SELECT n_number, owner_count FROM owners_summary WHERE any_trust_flag "
                   f"AND n_number LIKE '{prefix}%' ORDER BY n_number")
            want = truth.trust_aircraft(prefix)
        else:
            k = self.rng.randint(3, 10)
            sql = ("SELECT state, COUNT(*) AS n FROM owners_clean WHERE state != '' "
                   f"GROUP BY state ORDER BY n DESC, state LIMIT {k}")
            want = truth.top_states(k)

        def check(df) -> str:
            got = [tuple(r) for r in df.itertuples(index=False)]
            return "" if got == want else f"query {sql[:60]}...: {got[:3]} != {want[:3]}"

        return (lambda: hb.query(sql)), check

    # -- phases --------------------------------------------------------------

    def write(self, result: Result) -> None:
        self.refresh(result, 1)
        self.refresh(result, 2)

    def warm_up(self, result: Result) -> None:
        for kind in ("search", "fleet", "fts_search", "query"):
            self.lookup(result, kind)

    def read(self, result: Result, deadline: float) -> None:
        i = 0
        while time.perf_counter() < deadline:
            self.lookup(result, self.CYCLE[i % len(self.CYCLE)])
            i += 1

    def report(self, r: Result) -> dict[str, tuple[float, str]]:
        reads = r.times(write=False)
        out = {
            "ingest_s": (r.times(kind="ingest")[0], "s"),
            "update_s": (r.times(kind="update")[0], "s"),
            "stored_bytes_per_input_byte": (r.extra["stored_bytes_per_input_byte"], "ratio"),
            "lookup_p50_s": (statistics.median(reads), "s"),
            "lookup_p90_s": (percentile(reads, 90), "s"),
            "lookup_ops_per_s": (len(reads) / sum(reads), "1/s"),
        }
        for kind, label in (("search", "search"), ("fleet", "fleet"),
                            ("fts_search", "fts"), ("query", "sql")):
            t = r.times(kind=kind)
            out[f"{label}_p50_s"] = (statistics.median(t) if t else float("nan"), "s")
        return out


# -- corpus: index build + registry queries --------------------------------------


def canon_cell(v) -> str:
    """Order-insensitive cell form: exact double repr, null/NaN sentinels."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<nan>" if math.isnan(v) else repr(v)
    return str(v)


def canon_rows(cols: list[str], rows: list) -> list[tuple[str, ...]]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in idx) for r in rows)


class CorpusWorkload:
    """Corpus index build, then passes over curation and analytics queries."""

    name = "corpus_curation"
    SCALE = 0.1  # of the sf0.1 layout: 15,000 orders, 500 documents
    NEAR_DUP_SHARE = 0.10
    # registry query -> the pipelines.indexes ensure_* functions it reads
    CURATION = {
        "dedup_minhash_lsh_persisted": ["ensure_minhash_sigs"],
        "sim_bruteforce_topk": [],
        "fts_bm25_topk": ["ensure_fts_tf", "ensure_fts_doclen"],
        "text_quality_topk": [],
        "pipeline_corpus_clean_full": [],
    }
    # one query from each of the relational, events and analytics modules
    ANALYTICS = [
        "join_topk_shipping_priority",
        "events_sessionize",
        "window_range_frame_trailing",
    ]

    def __init__(self, work: Path, seed: int, tracer: Tracer) -> None:
        self.work, self.seed, self.tracer = work, seed, tracer
        self.corpus = self.work / "corpus"
        self.digests: dict[str, str] = {}

    def prepare(self) -> None:
        gen_corpus.make_corpus(self.corpus, self.seed, self.SCALE, self.NEAR_DUP_SHARE)

    def start(self, spark) -> None:
        self.spark = spark

    def queries(self) -> list[str]:
        return list(self.CURATION) + self.ANALYTICS

    # -- write ---------------------------------------------------------------

    def build_indexes(self, result: Result) -> None:
        """Build every artifact the listed queries read into a fresh index
        root, which the queries then resolve to."""
        from hangarbay_spark.pipelines import indexes

        root = self.work / "indexes" / "corpus"
        os.environ["HANGARBAY_INDEX_DIR"] = str(root)
        ensure_fns = sorted({f for fs in self.CURATION.values() for f in fs})

        def run():
            with self.tracer.span("indexes.build") as sp:
                for f in ensure_fns:
                    getattr(indexes, f)(self.spark, str(self.corpus))
                sp.counts["bytes_written"] = dir_bytes(root)
            return [p.parent for p in root.rglob("_SUCCESS")]

        def check(built) -> str:
            return "" if len(built) == len(ensure_fns) else (
                f"{len(built)} index artifacts, want {len(ensure_fns)}")

        timed(self.tracer, result, "index_build", True, run, check)

    # -- read ----------------------------------------------------------------

    def run_query(self, result: Result, name: str, oracles: dict | None = None) -> None:
        from hangarbay_spark.queries import REGISTRY

        spec = REGISTRY[name]

        def run():
            with self.tracer.span(f"query.{name}") as sp:
                df = spec.fn(self.spark, str(self.corpus))
                rows = df.collect()
                sp.counts["rows"] = len(rows)
            return df.columns, rows

        def check(out) -> str:
            cols, rows = out
            canon = canon_rows(cols, rows)
            digest = hashlib.sha256(repr(canon).encode()).hexdigest()
            if name not in self.digests:
                # first run in this process: differential check vs DuckDB
                if oracles is None:
                    return f"{name}: no oracle-checked result to compare with"
                if name in oracles:
                    want = canon_rows(*oracles[name].result())
                    if want != canon:
                        return f"{name}: differs from its DuckDB oracle ({len(rows)} vs {len(want)} rows)"
                self.digests[name] = digest
                return ""
            return "" if digest == self.digests[name] else f"{name}: result changed between passes"

        timed(self.tracer, result, name, False, run, check)

    def write(self, result: Result) -> None:
        self.build_indexes(result)

    def warm_up(self, result: Result) -> None:
        """Run each query once and compare its result with its DuckDB
        oracle, which runs on a side thread while Spark runs the queries."""
        import duckdb

        from hangarbay_spark.queries import REGISTRY
        from hangarbay_spark.queries.base import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus}/{t}.parquet'")

        def oracle(sql: str):
            res = con.execute(sql)
            return [c[0] for c in res.description], res.fetchall()

        with ThreadPoolExecutor(max_workers=1) as pool:
            futures = {q: pool.submit(oracle, REGISTRY[q].oracle)
                       for q in self.queries() if REGISTRY[q].oracle is not None}
            # reverse order: the oracles, submitted in list order, finish
            # on the side thread before Spark reaches their query
            for q in reversed(self.queries()):
                self.run_query(result, q, futures)
        con.close()

    def read(self, result: Result, deadline: float) -> None:
        """Whole passes over the query list until the deadline."""
        while True:
            for q in self.queries():
                self.run_query(result, q)
            if time.perf_counter() >= deadline:
                return

    def report(self, r: Result) -> dict[str, tuple[float, str]]:
        def median_pass(names) -> float:
            per_pass = zip(*(r.times(kind=q) for q in names))
            return statistics.median(sum(p) for p in per_pass)

        return {
            "index_build_s": (r.times(kind="index_build")[0], "s"),
            "curation_pass_s": (median_pass(self.CURATION), "s"),
            "analytics_pass_s": (median_pass(self.ANALYTICS), "s"),
        }


WORKLOADS = {w.name: w for w in (FaaWorkload, CorpusWorkload)}
