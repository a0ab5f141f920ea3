"""The benchmark's workloads. Each drives the engine only through its
public entry points and checks its own outputs outside the timed
windows.

A workload runs in passes. ``run_pass(p)`` times every op of pass ``p``
through ``Recorder.op`` and keeps a summary of what the pass produced;
``verify()`` checks the summaries once the passes are over, and a check
that fails marks its op failed.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import json
import math
import shutil
from pathlib import Path

import numpy as np

RUN_DATE = dt.date(2024, 3, 1)
RUN_ID = f"run-{RUN_DATE.isoformat()}"


# --------------------------------------------------------------------------
# output canonicalisation (order-insensitive, dtype-visible)


def _render(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, np.floating):
        return "NULL" if np.isnan(v) else repr(float(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, dt.datetime):
        if v != v:  # NaT
            return "NULL"
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_render(x) for x in v) + "]"
    s = str(v)
    return "NULL" if s in ("NaT", "<NA>", "None", "nan") else s


def canon_hash(pdf) -> str:
    """Hash of a pandas frame that ignores row and column order."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "|".join(_render(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(("\t".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return h.hexdigest()


def duckdb_views(sf_dir: Path):
    import duckdb

    from jonesy_spark.catalog import FIXTURE_TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _cached_json(path: Path, compute):
    """``compute()``'s JSON value, cached at ``path`` (per seed: the
    answers depend only on the seed's inputs)."""
    if path.exists():
        return json.loads(path.read_text())
    value = compute()
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(value, sort_keys=True))
    tmp.replace(path)
    return value


def dir_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in Path(root).rglob("*") if p.is_file())


# --------------------------------------------------------------------------


class Workload:
    """One workload. ``run_pass`` times its ops through ``Recorder.op``
    and keeps what the checks need; ``verify`` runs after the last pass
    (and after the JVM has stopped), so no expectation is computed
    before or between timed windows."""

    name = ""
    #: warm passes a run makes at least, whatever ``--seconds`` says
    MIN_WARM = 1

    def __init__(self, spark, rec, sf_dir: Path, work: Path, seed: int):
        self.spark, self.rec, self.sf_dir, self.work, self.seed = (
            spark, rec, Path(sf_dir), Path(work), seed,
        )
        self.output_bytes: dict[int, int] = {}
        self.layer: dict[int, dict] = {}  # per-pass layer values it measures

    def prepare(self) -> None:
        """Untimed set-up before the first pass."""

    def run_pass(self, p: int) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        """Check every pass's outputs; failures go to ``Recorder.check``."""
        raise NotImplementedError

    def pass_dir(self, p: int) -> Path:
        d = self.work / f"pass-{p}"
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        return d

    def persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def note(self, p: int, metric: str, value: float) -> None:
        self.layer.setdefault(p, {}).setdefault(metric, 0.0)
        self.layer[p][metric] += value


class SisNightly(Workload):
    """The reference's three cron jobs in cron order (8 extracts) into
    two local sink targets."""

    name = "sis_nightly"
    MIN_WARM = 3
    JOBS = ("upload_advisors", "upload_snapshot", "upload_recent_refresh")

    def prepare(self) -> None:
        from jonesy_spark.pipeline.sinks import daily_prefix

        self.prefix = daily_prefix(RUN_DATE)
        self.extracts: dict[int, dict] = {}  # pass -> key -> summary

    def run_pass(self, p: int) -> None:
        from jonesy_spark.pipeline.jobs import JobContext, run_job

        out = self.pass_dir(p)
        targets = [out / "target-a", out / "target-b"]
        ctx = JobContext(self.spark, str(self.sf_dir), str(out / "stage"),
                         [str(t) for t in targets], run_date=RUN_DATE)
        for job in self.JOBS:
            with self.rec.op(p, job):
                run_job(job, ctx)
            self.note(p, "operators.persisted_rdds_left", self.persisted())
            self.spark.catalog.clearCache()
        self.output_bytes[p] = dir_bytes(out)
        self.extracts[p] = {key: self._summarize(key, targets) for key in ctx.written}
        shutil.rmtree(out, ignore_errors=True)

    def _summarize(self, key: str, targets) -> dict:
        copies = []
        for target in targets:
            path = target / self.prefix / key
            copies.append(gzip.decompress(path.read_bytes()) if path.exists() else None)
        first = copies[0] or b""
        return {
            "present": all(c is not None for c in copies),
            "same": all(c == copies[0] for c in copies),
            "rows": first.count(b"\n"),
            "digest": hashlib.sha256(first).hexdigest(),
        }

    def expectations(self) -> dict[str, int]:
        """Row count per extract key, from the registry's DuckDB oracles."""
        from jonesy_spark.plans import all_oracle_sql

        con = duckdb_views(self.sf_dir)
        oracle = all_oracle_sql()

        def count(sql):
            return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]

        terms = [r[0].strftime("%Y-%m") for r in
                 con.execute(oracle["current_terms_topk"]).fetchall()]
        expect = {
            "advisors/advisor-note-permissions.csv.gz": count(oracle["basic_attributes"]),
            "advisors/instructor-advisor-map.csv.gz": count(oracle["latest_order_per_customer"]),
            "sis-data/basic-attributes.csv.gz": count(oracle["basic_attributes"]),
            "sis-data/recent-enrollment-updates.csv.gz": count(oracle["watermark_incremental"]),
            "sis-data/recent-instructor-updates.csv.gz": count(oracle["recent_instructor_updates"]),
        }
        for term in terms:
            expect[f"sis-data/enrollments-{term}.csv.gz"] = count(f"""
                SELECT DISTINCT l_orderkey, o_custkey, l_quantity,
                                l_returnflag, l_shipdate
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE strftime(o_orderdate, '%Y-%m') = '{term}'""")
        con.close()
        return expect

    def job_of(self, key: str) -> str:
        if key.startswith("advisors/"):
            return self.JOBS[0]
        return self.JOBS[2] if "/recent-" in key else self.JOBS[1]

    def verify(self) -> None:
        expect = _cached_json(self.sf_dir / "_expect_sis_nightly.json", self.expectations)
        first = self.extracts.get(0, {})
        for p, got in self.extracts.items():
            if sorted(got) != sorted(expect):
                self.rec.check(p, self.JOBS[1], [f"extracts {sorted(got)} != {sorted(expect)}"])
            for key, rows in expect.items():
                e = got.get(key)
                if e is None:
                    continue
                errors = []
                if not e["present"]:
                    errors.append(f"{key}: missing from a sink target")
                elif not e["same"]:
                    errors.append(f"{key}: sink targets differ")
                if e["rows"] != rows:
                    errors.append(f"{key}: {e['rows']} rows, oracle has {rows}")
                if key in first and e["digest"] != first[key]["digest"]:
                    errors.append(f"{key}: bytes differ from pass 0")
                self.rec.check(p, self.job_of(key), errors)


class QueryMix(Workload):
    """A closed loop over registry rows: each op builds one query and
    collects its result to the driver. Every pass runs the rows in the
    fixed ``ROWS`` order: the order alone moves the pass time (the first
    row pays the JVM's warm-up, and rows warm code paths for the ones
    after them), so a seed-shuffled order made the pass times spread
    twice as wide. Results are checked against the DuckDB oracle for the
    first warm pass; rows without an oracle by row count and a hash that
    must repeat in every pass."""

    name = "query_mix"
    ROWS = (
        "ann_pq_topk", "ann_cosine_topk", "bm25_search", "kmv_distinct_users",
        "asof_join_last_click", "cdc_upsert", "warc_ingest_roundtrip",
    )
    NO_ORACLE = ("ann_pq_topk",)
    ORACLE_PASS = 1

    def prepare(self) -> None:
        from jonesy_spark.plans import all_queries

        self.queries = all_queries()
        self.results: dict[tuple[int, str], tuple[int, str]] = {}  # -> (rows, hash)

    def run_pass(self, p: int) -> None:
        from jonesy_spark.operators.dedup import release_caches

        for name in self.ROWS:
            df = pdf = None
            with self.rec.op(p, name):
                df = self.queries[name](self.spark, str(self.sf_dir))
                pdf = df.toPandas()
            self.note(p, "operators.persisted_rdds_left", self.persisted())
            if df is not None:
                release_caches(df)
            self.spark.catalog.clearCache()
            if pdf is not None and (p == self.ORACLE_PASS or name in self.NO_ORACLE):
                self.results[(p, name)] = (len(pdf), canon_hash(pdf))
        self.output_bytes[p] = 0

    def expectations(self) -> dict[str, str]:
        from jonesy_spark.plans import all_oracle_sql

        oracle = all_oracle_sql()
        con = duckdb_views(self.sf_dir)
        out = {n: canon_hash(con.execute(oracle[n]).df())
               for n in self.ROWS if n not in self.NO_ORACLE}
        con.close()
        return out

    def verify(self) -> None:
        expect = _cached_json(self.sf_dir / "_expect_query_mix.json", self.expectations)
        first: dict[str, tuple[int, str]] = {}
        for (p, name), (rows, got) in sorted(self.results.items()):
            if name in self.NO_ORACLE:
                ref = first.setdefault(name, (rows, got))
                if rows == 0:
                    self.rec.check(p, name, ["no rows"])
                elif ref != (rows, got):
                    self.rec.check(p, name, [
                        f"{rows} rows/{got[:12]} != first pass {ref[0]}/{ref[1][:12]}"])
            elif got != expect[name]:
                self.rec.check(p, name, [
                    f"hash {got[:12]} != oracle {expect[name][:12]} ({rows} rows)"])


class CorpusCrawl(Workload):
    """Raw ``.warc.gz`` archives through ``prepare_corpus_from_crawl``
    into parquet shards plus a manifest."""

    name = "corpus_crawl"
    N_ARCHIVES = 8
    OP = "prepare_corpus_from_crawl"
    CHAIN = ("n_extracted", "n_kept", "n_novel", "n_documents", "n_clean",
             "n_split", "n_sequences")

    def prepare(self) -> None:
        self.archives = build_archives(self.sf_dir, self.seed, self.N_ARCHIVES)
        self.outcomes: dict[int, tuple[bool, dict | None]] = {}  # -> (manifest, counts)

    def run_pass(self, p: int) -> None:
        from pyspark.sql import functions as F

        from jonesy_spark.pipeline.corpus_job import prepare_corpus_from_crawl

        out = self.pass_dir(p)
        res = None
        with self.rec.op(p, self.OP):
            raw = (
                self.spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.warc.gz")
                .load(str(self.archives))
                .select(F.col("path").alias("archive_id"),
                        F.col("content").alias("payload"))
            )
            res = prepare_corpus_from_crawl(self.spark, raw, str(out), run_id=RUN_ID)
        self.note(p, "operators.persisted_rdds_left", self.persisted())
        self.spark.catalog.clearCache()
        self.output_bytes[p] = dir_bytes(out)
        counts = None if res is None else {**res["intake"], **res["boundaries"]}
        self.outcomes[p] = ((out / "_MANIFEST.json").exists(), counts)
        if counts:
            self.note(p, "intake.rows_clean", counts["n_novel"])
            self.note(p, "intake.clean_ratio", counts["n_novel"] / max(counts["n_extracted"], 1))
            self.note(p, "corpus.docs_kept", counts["n_clean"])
            self.note(p, "corpus.keep_ratio", counts["n_clean"] / max(counts["n_documents"], 1))
        shutil.rmtree(out, ignore_errors=True)

    def verify(self) -> None:
        first = None
        for p, (manifest, counts) in sorted(self.outcomes.items()):
            if counts is None:
                continue  # the op raised and is already failed
            errors = [] if manifest else ["_MANIFEST.json missing"]
            chain = [counts[k] for k in self.CHAIN]
            if any(b > a for a, b in zip(chain, chain[1:])):
                errors.append(f"boundary counts grow: {dict(zip(self.CHAIN, chain))}")
            if chain[-1] <= 0:
                errors.append("no sequences packed")
            first = first or counts
            if counts != first:
                errors.append(f"counts {counts} differ from the first pass {first}")
            self.rec.check(p, self.OP, errors)


def build_archives(sf_dir: Path, seed: int, n_archives: int) -> Path:
    """The seed's crawl archives: every document as an HTML-bodied WARC
    response record (the crawl job's fixture shape), one gzip member
    per record, the seed deciding which archive a document lands in.
    Cached next to the seed's tables."""
    import pyarrow.parquet as pq

    from inputs import archive_assignment
    from jonesy_spark.pipeline.warc import encode_warc

    dest = Path(sf_dir) / "archives"
    if (dest / "_DONE").exists():
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir()
    docs = pq.read_table(Path(sf_dir) / "documents.parquet", columns=["doc_id", "text"])
    ids, texts = docs["doc_id"].to_pylist(), docs["text"].to_pylist()
    arc = archive_assignment(seed, len(ids), n_archives)
    for a in range(n_archives):
        recs = [
            (f"https://fixture.invalid/doc/{d}", "2024-01-01T00:00:00Z",
             f"<html><body><p>{t} the of</p></body></html>".encode())
            for d, t, k in zip(ids, texts, arc) if k == a
        ]
        (dest / f"fixture-{a:05d}.warc.gz").write_bytes(encode_warc(recs, gzip_members=True))
    (dest / "_DONE").write_text("")
    return dest


WORKLOADS = {w.name: w for w in (SisNightly, QueryMix, CorpusCrawl)}
