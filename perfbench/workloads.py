"""The benchmark's op groups, their inputs and their output checks.

Each group is one closed loop with a single client: an iteration issues
its calls one after another, and every call waits for the one before it.
``churn_app`` is the reference churn app's own traffic, ``corpus_batch``
the batch corpus-cleaning pipelines and ``corpus_stream`` the streaming
corpus ingest. Every call goes through a public function of the package's
``sources``, ``plans``, ``ml``, ``operators`` or ``streaming`` modules
and runs under the job group ``<group>/<op>/<construct|execute>``.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import sampling
from expected import DATA_DIR, comparator

# churn_app: the upload is the sf0.1 churn table replicated this many
# times, each copy's CustomerID offset by a multiple of ID_STRIDE
UPLOAD_REPLICAS = 20
ID_STRIDE = 100_000
DASHBOARD_QUERIES = [
    "churn_stats",
    "churn_rate_by_contract",
    "churn_rate_by_subscription",
    "age_histogram",
    "age_filter_topn",
    "churn_risk_summary",
]
# corpus_stream: micro-batches the documents are split into, the publish
# period (in micro-batches) and the number of at-least-once replays
STREAM_BATCHES = 4
PUBLISH_EVERY = 3
STREAM_REPLAYS = 2
BATCH_DDL = "doc_id bigint, text string"


class OpFailed(Exception):
    """An op raised; the run stops and reports itself incorrect."""


@dataclass
class Span:
    group: str
    op: str
    phase: str  # "construct" or "execute"
    label: str  # "warmup<k>" or "it<k>"
    step: int | None
    t0_ms: float
    t1_ms: float
    seconds: float

    @property
    def job_group(self) -> str:
        return f"{self.group}/{self.op}/{self.phase}"


@dataclass
class Outcome:
    group: str
    op: str
    label: str
    step: int | None
    problem: str | None  # None when the op ran and its output checked out


@dataclass
class Bench:
    """Times calls into the package and records what they did."""

    spark: object
    label: str = "setup"
    spans: list[Span] = field(default_factory=list)
    outcomes: list[Outcome] = field(default_factory=list)
    # per-iteration numbers the harness measures itself, keyed by label
    extras: dict[str, dict[str, float]] = field(default_factory=dict)

    def tag(self, job_group: str) -> None:
        self.spark.sparkContext.setJobGroup(job_group, self.label)

    def _timed(self, group, op, phase, step, fn):
        self.tag(f"{group}/{op}/{phase}")
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            return fn()
        finally:
            seconds = time.perf_counter() - p0
            self.spans.append(
                Span(group, op, phase, self.label, step, t0 * 1000, time.time() * 1000, seconds)
            )
            self.tag("bench/check/execute")

    def op(self, group, op, *, construct=None, execute=None, check=None, step=None):
        """One user-level operation: ``construct()`` builds a DataFrame,
        ``execute(built)`` runs it (either may be absent), both timed;
        ``check(result)`` runs untimed and returns a problem or None."""
        try:
            built = self._timed(group, op, "construct", step, construct) if construct else None
            if execute is None:
                result = built
            elif construct is None:
                result = self._timed(group, op, "execute", step, execute)
            else:
                result = self._timed(group, op, "execute", step, lambda: execute(built))
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            self.outcomes.append(Outcome(group, op, self.label, step, f"raised {e!r}"[:300]))
            raise OpFailed(f"{group}/{op}") from e
        try:
            problem = check(result) if check else None
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            problem = f"check raised {e!r}"[:300]
        if problem:
            print(f"CHECK FAILED {group}/{op} [{self.label}]: {problem}", file=sys.stderr)
        self.outcomes.append(Outcome(group, op, self.label, step, problem))
        return result

    def extra(self, key: str, value: float) -> None:
        self.extras.setdefault(self.label, {})[key] = value


# ---------------------------------------------------------------------------
# inputs: seeded copies of the tables in perfbench/data
# ---------------------------------------------------------------------------


def seeded_key(seed: int, key) -> str:
    return hashlib.md5(f"{seed}:{key}".encode()).hexdigest()


def _write_seeded_copy(table: str, key: str, seed: int, out_dir: str) -> pa.Table:
    t = pq.read_table(os.path.join(DATA_DIR, f"{table}.parquet"))
    keys = t.column(key).to_pylist()
    order = sorted(range(len(keys)), key=lambda i: seeded_key(seed, keys[i]))
    t = t.take(pa.array(order))
    pq.write_table(t, os.path.join(out_dir, f"{table}.parquet"))
    return t


@dataclass
class Inputs:
    sf_dir: str
    upload_csv: str = ""
    scored_dir: str = ""
    stream_dir: str = ""
    batch_paths: list[str] = field(default_factory=list)
    replays: list[tuple[int, int]] = field(default_factory=list)  # (after step, batch)
    user_bytes: int = 0
    n_docs: int = 0


def stream_batch_of(seed: int, doc_id: int, n_batches: int = STREAM_BATCHES) -> int:
    return int(seeded_key(seed, doc_id)[:8], 16) % n_batches


def replay_schedule(seed: int, n_batches: int = STREAM_BATCHES) -> list[tuple[int, int]]:
    """``(after step, batch)`` pairs: after micro-batch ``step`` the batch
    ``batch`` (one already sent) is sent again."""
    rng = random.Random(seed)
    steps = sorted(rng.sample(range(1, n_batches), k=min(STREAM_REPLAYS, n_batches - 1)))
    return [(s, rng.randint(0, s)) for s in steps]


def write_upload_csv(customer_parquet: str, out_csv: str, seed: int) -> None:
    """The churn table derived by ``plans.churn`` (its DuckDB rendering),
    without the label, replicated UPLOAD_REPLICAS times in seeded order."""
    import duckdb

    from bigdata_group4_app_spark.plans.churn import CHURN_COLUMNS, churn_select_sql

    cols = [n for n, _ in CHURN_COLUMNS if n not in ("CustomerID", "Churn")]
    select = ", ".join(f'c."{n}"' for n in cols)
    new_id = f'c."CustomerID" + r.range * {ID_STRIDE}'
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{customer_parquet}')")
        con.execute(
            f"""COPY (
              SELECT {new_id} AS "CustomerID", {select}
              FROM ({churn_select_sql('"')}) c, range({UPLOAD_REPLICAS}) r
              ORDER BY md5(concat('{int(seed)}:', CAST({new_id} AS VARCHAR)))
            ) TO '{out_csv}' (HEADER, DELIMITER ',')"""
        )
    finally:
        con.close()


def write_inputs(groups: list[str], seed: int, work: str) -> Inputs:
    sf = os.path.join(work, "sf")
    shutil.rmtree(sf, ignore_errors=True)
    os.makedirs(sf)
    inp = Inputs(sf_dir=sf)
    if "churn_app" in groups:
        _write_seeded_copy("customer", "c_custkey", seed, sf)
        inp.upload_csv = os.path.join(work, "upload.csv")
        inp.scored_dir = os.path.join(work, "scored")
        write_upload_csv(os.path.join(sf, "customer.parquet"), inp.upload_csv, seed)
    if "corpus_batch" in groups or "corpus_stream" in groups:
        docs = _write_seeded_copy("documents", "doc_id", seed, sf)
        _write_seeded_copy("embeddings", "vec_id", seed, sf)
    if "corpus_stream" in groups:
        inp.stream_dir = os.path.join(work, "stream")
        shutil.rmtree(inp.stream_dir, ignore_errors=True)
        os.makedirs(inp.stream_dir)
        ids = docs.column("doc_id").to_pylist()
        texts = docs.column("text").to_pylist()
        members = [[] for _ in range(STREAM_BATCHES)]
        for i, d in enumerate(ids):
            members[stream_batch_of(seed, d)].append(i)
        for b, rows in enumerate(members):
            path = os.path.join(inp.stream_dir, f"batch_{b}.parquet")
            pq.write_table(docs.select(["doc_id", "text"]).take(pa.array(rows)), path)
            inp.batch_paths.append(path)
        inp.replays = replay_schedule(seed)
        inp.n_docs = len(set(ids))
        inp.user_bytes = sum(8 + len(t.encode()) for t in texts)
    return inp


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def check_rows(expected: dict, name: str):
    """Check function comparing collected ``(rows, columns)`` to the
    recorded oracle result with the repository's comparator."""
    _, value_hash = comparator()
    want = expected["queries"][name]

    def check(result) -> str | None:
        rows, cols = result
        got = value_hash([tuple(r) for r in rows], cols)
        if sorted(cols) != sorted(want["columns"]) or len(rows) != want["n_rows"] or got != want["hash"]:
            return f"{name}: {len(rows)} rows hash {got}, want {want['n_rows']} rows hash {want['hash']}"
        return None

    return check


def expected_risk_counts(expected: dict) -> dict[str, int]:
    q = expected["queries"]["churn_risk_summary"]
    ri, ni = q["columns"].index("risk"), q["columns"].index("n_customers")
    return {row[ri]: int(row[ni]) for row in q["rows"]}


def collect(df):
    return df.collect(), df.columns


# ---------------------------------------------------------------------------
# op groups: one iteration each
# ---------------------------------------------------------------------------


def churn_app(b: Bench, inp: Inputs, expected: dict) -> None:
    """Upload → preprocess → score → risk bucket → parquet; the same upload
    through the Arrow UDF tier to a noop sink; the six dashboard queries,
    each collected to the driver."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.ml import scoring
    from bigdata_group4_app_spark.operators import analytics
    from bigdata_group4_app_spark.sources.files import CHURN_UPLOAD_SCHEMA, read_csv

    g, spark = "churn_app", b.spark
    buckets = expected_risk_counts(expected)
    # order-insensitive fingerprint of (CustomerID, churn_probability):
    # observed on the way to each sink, so the check costs no extra job
    fingerprint = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("CustomerID", "churn_probability"), F.lit(2147483647))).alias("fp"),
    ]
    read = lambda: read_csv(spark, inp.upload_csv, CHURN_UPLOAD_SCHEMA)  # noqa: E731

    upload = b.op(g, "upload_read", construct=read)
    obs_upload = Observation()

    def check_upload(_):
        got = obs_upload.get
        want = {k: UPLOAD_REPLICAS * v for k, v in buckets.items()}
        have = {k: got[f"n_{k}"] for k in want}
        if have != want or got["n"] != sum(want.values()):
            return f"risk buckets {have} (n={got['n']}), want {want}"
        return None

    b.op(
        g,
        "upload_score",
        construct=lambda: scoring.score_upload(upload).observe(
            obs_upload,
            *fingerprint,
            *[F.sum((F.col("risk") == k).cast("long")).alias(f"n_{k}") for k in buckets],
        ),
        execute=lambda df: df.write.mode("overwrite").parquet(inp.scored_dir),
        check=check_upload,
    )

    udf_input = b.op(g, "udf_read", construct=read)
    obs_udf = Observation()

    def check_udf(_):
        got, ref = obs_udf.get, obs_upload.get
        if (got["n"], got["fp"]) != (ref["n"], ref["fp"]):
            return f"Arrow-UDF probabilities differ from the expression tier: {got} vs n={ref['n']} fp={ref['fp']}"
        return None

    b.op(
        g,
        "udf_score",
        construct=lambda: scoring.score_with_pandas_udf(udf_input).observe(obs_udf, *fingerprint),
        execute=lambda df: df.write.format("noop").mode("overwrite").save(),
        check=check_udf,
    )

    modules = {name: analytics for name in DASHBOARD_QUERIES}
    modules["churn_risk_summary"] = scoring
    for name in DASHBOARD_QUERIES:
        fn = getattr(modules[name], name)
        b.op(
            g,
            name,
            construct=lambda fn=fn: fn(spark, inp.sf_dir),
            execute=collect,
            check=check_rows(expected, name),
        )


def corpus_batch(b: Bench, inp: Inputs, expected: dict) -> None:
    """The two corpus-cleaning funnels, each built and collected."""
    from bigdata_group4_app_spark.operators import dedup, similarity

    for op, fn, name in (
        ("corpus_dedup", dedup.corpus_dedup_pipeline, "corpus_dedup_pipeline"),
        ("corpus_semantic", similarity.corpus_semantic_pipeline, "corpus_semantic_pipeline"),
    ):
        b.op(
            "corpus_batch",
            op,
            construct=lambda fn=fn: fn(b.spark, inp.sf_dir),
            execute=collect,
            check=check_rows(expected, name),
        )


def _committed_index_segments(index_dir: str) -> int:
    if not os.path.isdir(index_dir):
        return 0
    return sum(
        os.path.exists(os.path.join(index_dir, d, "_SUCCESS"))
        for d in os.listdir(index_dir)
        if d.startswith("v")
    )


def _disk_bytes(*dirs: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for d in dirs
        for root, _, files in os.walk(d)
        for f in files
    )


def corpus_stream(b: Bench, inp: Inputs, expected: dict) -> None:
    """A fresh stream: batch 0 bootstraps ``main``; every later micro-batch
    is a staged catalog commit plus a MinHash index step; every
    PUBLISH_EVERY-th batch (and the last) publishes staging to ``main``;
    seeded replays re-send earlier batches; the iteration ends with a
    pinned read of ``main``."""
    from pyspark.sql import functions as F

    from bigdata_group4_app_spark.operators import snapshots
    from bigdata_group4_app_spark.streaming import sinks

    g, spark = "corpus_stream", b.spark
    root = os.path.join(inp.stream_dir, b.label)
    shutil.rmtree(root, ignore_errors=True)
    cat, idx = os.path.join(root, "catalog"), os.path.join(root, "index")
    read = lambda i: spark.read.schema(BATCH_DDL).parquet(inp.batch_paths[i])  # noqa: E731

    t0 = time.perf_counter()
    b.op(g, "bootstrap_commit", execute=lambda: sinks.catalog_commit_step(read(0), cat), step=0)
    b.op(g, "bootstrap_index", execute=lambda: sinks.minhash_index_step(read(0), idx), step=0)
    noop_replays = 0
    for i in range(1, STREAM_BATCHES):
        b.op(g, "commit", execute=lambda i=i: sinks.catalog_commit_step_staged(read(i), cat), step=i)
        b.op(g, "index", execute=lambda i=i: sinks.minhash_index_step(read(i), idx), step=i)
        if i % PUBLISH_EVERY == 0 or i == STREAM_BATCHES - 1:
            b.op(g, "publish", execute=lambda: sinks.publish_staging(spark, cat), step=i)
        for _, batch in [r for r in inp.replays if r[0] == i]:
            snaps = snapshots.committed_snapshot_ids(cat)
            segs = _committed_index_segments(idx)
            ret = b.op(
                g,
                "replay_commit",
                execute=lambda batch=batch: sinks.catalog_commit_step_staged(read(batch), cat),
                check=lambda r: None if r is None else f"replay of batch {batch} committed snapshot {r}",
                step=i,
            )
            b.op(
                g,
                "replay_index",
                execute=lambda batch=batch: sinks.minhash_index_step(read(batch), idx),
                check=lambda _: None
                if _committed_index_segments(idx) == segs and snapshots.committed_snapshot_ids(cat) == snaps
                else f"replay of batch {batch} added a snapshot or an index segment",
                step=i,
            )
            noop_replays += ret is None
    stream_wall = time.perf_counter() - t0

    main = snapshots.resolve_ref(cat, "main")

    def check_main(row):
        n, distinct, chars = row
        stats = snapshots.read_snapshot_table(spark, cat, "doc_stats", main).collect()
        problems = []
        if distinct != inp.n_docs or n != inp.n_docs:
            problems.append(f"main holds {n} rows / {distinct} distinct docs, want {inp.n_docs}")
        if [tuple(r) for r in stats] != [(n, chars)]:
            problems.append(f"doc_stats {[tuple(r) for r in stats]} != explicit (count, chars) {(n, chars)}")
        verdicts = spark.read.parquet(os.path.join(idx, "verdicts")).agg(
            F.count(F.lit(1)), F.countDistinct("doc_id")
        ).first()
        if tuple(verdicts) != (inp.n_docs, inp.n_docs):
            problems.append(f"verdicts: {tuple(verdicts)} rows/distinct docs, want one per doc")
        return "; ".join(problems) or None

    row = b.op(
        g,
        "snapshot_read",
        construct=lambda: snapshots.read_snapshot_table(spark, cat, "documents", main),
        execute=lambda df: tuple(
            df.agg(
                F.count(F.lit(1)), F.countDistinct("doc_id"), F.sum(F.length("text"))
            ).first()
        ),
        check=check_main,
    )
    manifest = snapshots.read_manifest(cat, main)
    b.extra("stream_wall_s", stream_wall)
    b.extra("docs_on_main", row[1])
    b.extra(
        "live_segments",
        len(manifest["tables"]["documents"]) + _committed_index_segments(idx),
    )
    b.extra("bytes_written_per_user_byte", _disk_bytes(cat, idx) / inp.user_bytes)
    b.extra("replay_noop_ratio", noop_replays / max(1, len(inp.replays)))


# which layer each op's call belongs to: the package module of the public
# function it times (the dashboard queries live in operators.analytics,
# except churn_risk_summary in ml.scoring)
OP_LAYER = {
    "upload_read": "sources",
    "udf_read": "sources",
    "upload_score": "ml",
    "udf_score": "ml",
    "churn_risk_summary": "ml",
    **{q: "operators" for q in DASHBOARD_QUERIES if q != "churn_risk_summary"},
    "corpus_dedup": "operators",
    "corpus_semantic": "operators",
    "snapshot_read": "operators",
    "bootstrap_commit": "streaming.commit",
    "commit": "streaming.commit",
    "replay_commit": "streaming.commit",
    "bootstrap_index": "streaming.index",
    "index": "streaming.index",
    "replay_index": "streaming.index",
    "publish": "streaming.publish",
}

GROUPS = {
    "churn_app": churn_app,
    "corpus_batch": corpus_batch,
    "corpus_stream": corpus_stream,
}


def end_to_end(bench, labels, groups) -> dict:
    """Every end-to-end metric of the workload's op groups, as sample
    lists: ``{name: {"values": [...], "unit": ...}}``."""

    def per(label_filter, ops, key=lambda s: s.label):
        sums: dict = {}
        for s in bench.spans:
            if s.label in label_filter and s.op in ops:
                k = key(s)
                sums[k] = sums.get(k, 0.0) + s.seconds
        return list(sums.values())

    out = {
        "iteration_s": {
            "values": [sum(s.seconds for s in bench.spans if s.label == lab) for lab in labels],
            "unit": "s",
        }
    }
    if "churn_app" in groups:
        dash = per(labels, set(DASHBOARD_QUERIES), key=lambda s: (s.label, s.op))
        pct, tail = sampling.tail(dash) if dash else (None, None)
        out.update(
            {
                "upload_score_s": {"values": per(labels, {"upload_read", "upload_score"}), "unit": "s"},
                "udf_score_s": {"values": per(labels, {"udf_read", "udf_score"}), "unit": "s"},
                "dashboard_query_p50_s": {"values": dash, "unit": "s"},
                "dashboard_query_tail_s": {"values": [tail] * (tail is not None), "unit": "s", "percentile": pct},
            }
        )
    if "corpus_batch" in groups:
        out["corpus_dedup_s"] = {"values": per(labels, {"corpus_dedup"}), "unit": "s"}
        out["corpus_semantic_s"] = {"values": per(labels, {"corpus_semantic"}), "unit": "s"}
    if "corpus_stream" in groups:
        mb = per(labels, {"commit", "index"}, key=lambda s: (s.label, s.step))
        pct, tail = sampling.tail(mb) if mb else (None, None)
        ex = [bench.extras[lab] for lab in labels]
        out.update(
            {
                "microbatch_p50_s": {"values": mb, "unit": "s"},
                "microbatch_tail_s": {"values": [tail] * (tail is not None), "unit": "s", "percentile": pct},
                "publish_s": {"values": per(labels, {"publish"}, key=lambda s: (s.label, s.step)), "unit": "s"},
                "ingest_docs_per_s": {
                    "values": [e["docs_on_main"] / e["stream_wall_s"] for e in ex],
                    "unit": "1/s",
                },
                "snapshot_read_s": {"values": per(labels, {"snapshot_read"}), "unit": "s"},
            }
        )
    return out
