"""The benchmark's workloads. Each one turns the run seed into a
sequence of operations; an operation builds a DataFrame through the
package's public functions and (usually) collects it, and carries the
DuckDB twin its output is checked against after the timed window.

- ``dashboard``: a closed loop, one client, of short seeded requests
  (interactive filters and agency nesting over a flat website table,
  and five registry dashboard queries).
- ``nightly``: a seeded split of the post-corpus documents into
  nightly batches; each night runs the batch ETL queries, the
  per-document export write, and the dedup and release folds into
  persistent bucketed state, reads the published release back, and
  runs the iterative graph curation queries.

Sizes follow the reference figures in ``datagen``. The dashboard's
request mix and filter-parameter odds are an assumption: the reference
publishes its filters (App.jsx, SURVEY.md P6-P12) but no usage data.
"""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys
from dataclasses import dataclass
from typing import Callable

import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.datagen import FACILITIES, N_NIGHTS, NIGHT_DOCS, REFERENCE_DOCS
from perfbench.harness import duckdb_conn, duckdb_digest, median, result_digest, stop_spark


@dataclass
class Op:
    kind: str
    key: str
    build: Callable  # () -> DataFrame to collect, or None when the op is an action
    oracle: Callable | None = None  # () -> result_digest of the twin
    digest: Callable | None = None  # (collected rows) -> result_digest
    docs: int = 0
    boundary: bool = True  # the timed window may end after this op
    # (per-layer metric, directory): bytes the op writes there, traced run only
    writes: tuple[str, str] | None = None


@dataclass
class Ctx:
    spark: object
    queries: dict
    oracles: dict
    data_dir: str
    work: str
    seed: int


def _registry_op(ctx: Ctx, name: str, table_dir: str, con, key_suffix: str = "") -> Op:
    sql = ctx.oracles[name]
    return Op(
        kind=name,
        key=name + key_suffix,
        build=lambda: ctx.queries[name](ctx.spark, table_dir),
        oracle=lambda: duckdb_digest(con, sql),
    )


# ==========================================================================
# dashboard
# ==========================================================================

STATUSES = [
    "Regular",
    "Original",
    "1st Provisional",
    "2nd Provisional",
    "Inspected",
    "Closed",
    "Revoked",
]
COUNTIES = ["Wayne", "Kent", "Ingham", "Oakland", "Macomb", "Genesee", "Kalamazoo", "Washtenaw"]
AGENCY_TYPES = ["Child Caring Institution", "Child Placing Agency", "Foster Family Home"]
LEVELS = ["severe", "moderate", "low"]
KEYWORDS = ["Supervision", "Restraint", "Medication", "Staffing", "Discipline", "Records", "Safety", "Food"]
FILTER_COLS = ["sha256", "agency_id", "agency_name", "date_iso", "level", "LicenseStatus", "County"]
REGISTRY_REQUESTS = [
    "a03_group_count_sorted",
    "a05_explode_word_count",
    "x1_prefix_search_topk",
    "s4_x3_point_lookup",
    "p11_keyword_any_filter",
]
# one block of 20 requests: the request mix is fixed, the seed shuffles
# the order within each block and draws every filter parameter. The mix
# and the parameter odds below are assumed, not taken from usage data.
REQUEST_BLOCK = ["filter"] * 7 + ["nest"] * 3 + REGISTRY_REQUESTS * 2


def request_sequence(seed: int):
    """Endless seeded request stream: (type, filter params or None)."""
    rng = random.Random(seed)
    while True:
        block = list(REQUEST_BLOCK)
        rng.shuffle(block)
        for kind in block:
            yield _request(rng, kind)


def _request(rng: random.Random, kind: str):
    """One request of type ``kind`` with its seeded filter parameters."""
    if kind not in ("filter", "nest"):
        return kind, None
    params: dict = {}
    if rng.random() < 0.7:
        params["license_statuses"] = sorted(rng.sample(STATUSES, rng.randint(1, 4)))
    if rng.random() < 0.5:
        params["county"] = rng.choice(COUNTIES)
    if rng.random() < 0.3:
        params["agency_type"] = rng.choice(AGENCY_TYPES)
    params["last_n_months"] = rng.choice([None, 12, 36, 60, 120])
    if rng.random() < 0.3:
        params["sir_only"] = True
        if rng.random() < 0.5:
            params["severity"] = sorted(rng.sample(LEVELS, rng.randint(1, 2)))
    if rng.random() < 0.2:
        params["staffing_filter"] = rng.choice(["yes_high", "yes_low", "no_high"])
    if rng.random() < 0.4:
        params["keywords_any"] = sorted(rng.sample(KEYWORDS, rng.randint(1, 3)))
    return kind, params


def _sql_list(xs) -> str:
    return "[" + ", ".join("'" + x.replace("'", "''") + "'" for x in xs) + "]"


def filter_where(p: dict) -> str:
    """DuckDB twin of ``plans.website.interactive_filter``."""
    conds = ["TRUE"]
    if p.get("license_statuses"):
        conds.append(f"list_contains({_sql_list(p['license_statuses'])}, LicenseStatus)")
    if p.get("agency_type"):
        conds.append(f"AgencyType = '{p['agency_type']}'")
    if p.get("county"):
        conds.append(f"County = '{p['county']}'")
    if p.get("last_n_months") is not None:
        conds.append(f"date_iso >= current_date - INTERVAL {int(p['last_n_months'])} MONTH")
    if p.get("sir_only"):
        conds.append("is_special_investigation")
        if p.get("severity"):
            conds.append(f"list_contains({_sql_list(p['severity'])}, level)")
    if p.get("staffing_filter"):
        problem, confidence = p["staffing_filter"].split("_", 1)
        conds.append(
            f"staffing_problem = {'true' if problem == 'yes' else 'false'} "
            f"AND confidence = '{confidence}'"
        )
    if p.get("keywords_any"):
        kws = _sql_list([k.lower() for k in p["keywords_any"]])
        conds.append(f"list_has_any(list_transform(keywords, k -> lower(k)), {kws})")
    return " AND ".join(conds)


def _flat_inputs(spark, data_dir: str):
    """Reference-shaped website inputs derived from ``documents``."""
    from pyspark.sql import functions as F

    from mcyj_datapipeline_spark.io import read_table

    docs = read_table(spark, data_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    sha = F.sha2(d.cast("string"), 256)
    agid = F.concat(F.lit("AG"), (d % FACILITIES).cast("string"))
    # reference shares: 1,922 of 3,510 documents have a SIR summary, 1,050
    # a violation level and a staffing summary (SURVEY.md section 6)
    sir_doc, rated = d % 20 < 11, d % 20 < 6
    day = F.date_add(F.lit("2016-01-01").cast("date"), ((d * 37) % 3900).cast("int"))
    info = docs.select(
        sha.alias("sha256"),
        agid.alias("agency_id"),
        F.concat(F.lit("Agency "), (d % FACILITIES).cast("string")).alias("agency_name"),
        F.when(d % 2 == 0, F.date_format(day, "M/d/yyyy"))
        .otherwise(F.date_format(day, "MMMM d, yyyy"))
        .alias("date"),
        sir_doc.alias("is_special_investigation"),
    )
    sir = docs.filter(sir_doc).select(
        sha.alias("sha256"),
        F.concat(F.lit("summary "), d.cast("string")).alias("response"),
        F.when(d % 6 == 0, "y").otherwise("n").alias("violation"),
    )
    kw = F.array(*[F.lit(k) for k in KEYWORDS])
    lvl = docs.filter(rated).select(
        sha.alias("sha256"),
        F.element_at(F.array(*[F.lit(x) for x in LEVELS]), (d % 3 + 1).cast("int")).alias("level"),
        F.lit("justified").alias("justification"),
        F.to_json(
            F.array(
                F.element_at(kw, (d % 8 + 1).cast("int")),
                F.element_at(kw, ((d * 7) % 8 + 1).cast("int")),
            )
        ).alias("keywords"),
    )
    staff = docs.filter(rated).select(
        sha.alias("sha256"),
        F.when(d % 8 == 0, "true").otherwise("false").alias("staffing_problem"),
        F.when(d % 3 == 0, "high").otherwise("low").alias("confidence"),
        F.lit("reason").alias("primary_reason"),
    )
    fac = docs.filter(d < FACILITIES).select(
        agid.alias("LicenseNumber"),
        F.element_at(F.array(*[F.lit(x) for x in STATUSES]), (d % 7 + 1).cast("int")).alias(
            "LicenseStatus"
        ),
        F.element_at(F.array(*[F.lit(x) for x in COUNTIES]), (d % 8 + 1).cast("int")).alias("County"),
        F.element_at(F.array(*[F.lit(x) for x in AGENCY_TYPES]), (d % 3 + 1).cast("int")).alias(
            "AgencyType"
        ),
    )
    return info, sir, lvl, staff, fac


class Dashboard:
    name = "dashboard"
    scale = "dashboard"
    setup_reps = 3
    setup_layer = "plans.build_flat_table_s"  # what setup_once times

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.flat_dir = os.path.join(ctx.work, "dashboard")
        self.con = None
        self.stream = request_sequence(ctx.seed)

    @staticmethod
    def prepare(data_dir: str) -> None:
        pass

    def setup_once(self) -> None:
        """Build the flat website table with ``build_flat_table`` and
        store it as parquet, as the website build does."""
        from mcyj_datapipeline_spark.plans import website

        flat = website.build_flat_table(*_flat_inputs(self.ctx.spark, self.ctx.data_dir))
        flat.write.mode("overwrite").parquet(os.path.join(self.flat_dir, "flat.parquet"))

    def _con(self):
        if self.con is None:
            self.con = duckdb_conn(self.ctx.data_dir)
            self.con.execute(
                "CREATE VIEW flat AS SELECT * FROM "
                f"'{self.flat_dir}/flat.parquet/*.parquet'"
            )
        return self.con

    def _op(self, kind: str, params: dict | None) -> Op:
        from pyspark.sql import functions as F

        from mcyj_datapipeline_spark.io import read_table
        from mcyj_datapipeline_spark.plans import website

        ctx = self.ctx
        if kind in REGISTRY_REQUESTS:
            return _registry_op(ctx, kind, ctx.data_dir, self._con())
        key = f"{kind}:{sorted(params.items())}"
        where = filter_where(params)

        def filtered():
            flat = read_table(ctx.spark, self.flat_dir, "flat")
            return website.interactive_filter(flat, **params)

        if kind == "filter":
            sql = (
                f"SELECT {', '.join(FILTER_COLS)} FROM flat WHERE {where} "
                "ORDER BY date_iso DESC, sha256 LIMIT 100"
            )
            return Op(
                kind,
                key,
                lambda: filtered()
                .select(*FILTER_COLS)
                .orderBy(F.col("date_iso").desc(), "sha256")
                .limit(100),
                oracle=lambda: duckdb_digest(self._con(), sql),
            )
        sql = (
            "SELECT agency_id, list(struct_pack(date_iso := date_iso, sha256 := sha256) "
            "ORDER BY date_iso DESC, sha256 DESC) AS documents, count(*) AS total_reports, "
            f"max(agency_name) AS agency_name FROM flat WHERE {where} GROUP BY agency_id"
        )
        return Op(
            kind,
            key,
            lambda: website.nest_agencies(filtered(), ["sha256"]),
            oracle=lambda: duckdb_digest(self._con(), sql),
        )

    def warmup_ops(self):
        # one request of each type, drawn from a stream the timed
        # requests never repeat
        rng = request_sequence(self.ctx.seed + 1_000_003)
        seen: set[str] = set()
        while len(seen) < len(set(REQUEST_BLOCK)):
            kind, params = next(rng)
            if kind not in seen:
                seen.add(kind)
                yield self._op(kind, params)

    def ops(self):
        # the window ends only at a block boundary, so every run times
        # whole blocks of the fixed request mix
        for i, (kind, params) in enumerate(self.stream):
            op = self._op(kind, params)
            op.boundary = i % len(REQUEST_BLOCK) == len(REQUEST_BLOCK) - 1
            yield op

    def final_checks(self):
        return []

    def served(self, records) -> tuple[list[float], int]:
        """(latency of each request, requests served)."""
        return [r["wall"] for r in records], len(records)

    def summary(self, records, window_s) -> dict:
        """Requests per second, and the highest latency percentile with
        at least ten requests beyond it (p90 from 100 requests)."""
        lat = sorted(r["wall"] for r in records)
        n = len(lat)
        out = {"requests": n, "requests_per_s": n / window_s}
        if n > 10:
            out["latency_tail_pct"] = 100.0 * (n - 10) / n
            out["latency_tail_s"] = lat[n - 11]
        if n >= 100:
            out["latency_p90_s"] = lat[int(0.9 * n) - 1]
        return out


# ==========================================================================
# nightly
# ==========================================================================


def night_split(seed: int, doc_ids: list[int], n_nights: int = N_NIGHTS) -> list[list[int]]:
    """Seeded shuffle of the post-corpus documents into ``n_nights``
    nights whose sizes differ by at most one."""
    rng = random.Random(seed)
    ids = list(doc_ids)
    rng.shuffle(ids)
    return [sorted(ids[i::n_nights]) for i in range(n_nights)]


def _dedup_oracle_sql(nights: list[list[int]]) -> str:
    """From-scratch twin of a sequence of dedup folds: a document is
    ingested unless an earlier night (any document of it) held the same
    content; clusters are connected components over the MinHash pairs
    of the ingested set (the e12b contract for any number of nights)."""
    from mcyj_datapipeline_spark.registry import _minhash_oracle_sql

    pairs = _minhash_oracle_sql("(SELECT doc_id, text FROM ingested)")
    return f"""
    WITH RECURSIVE d AS (
      SELECT docs.doc_id, docs.text, n.night, sha256(docs.text) AS sha
      FROM documents docs JOIN night_of n ON n.doc_id = docs.doc_id
    ), ingested AS (
      SELECT doc_id, text FROM d
      WHERE NOT EXISTS (SELECT 1 FROM d p WHERE p.sha = d.sha AND p.night < d.night)
    ), pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM ({pairs})
    ), und AS MATERIALIZED (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), walk(node, comp) AS (
      SELECT u, u FROM und
      UNION
      SELECT und.v, walk.comp FROM walk JOIN und ON und.u = walk.node
    ), cl AS (
      SELECT node, min(comp) AS cluster_id FROM walk GROUP BY node
    )
    SELECT i.doc_id, coalesce(cl.cluster_id, i.doc_id) AS cluster_id
    FROM ingested i LEFT JOIN cl ON cl.node = i.doc_id
    """


def corpus_size(n_docs: int) -> int:
    """Documents folded into the state before the first night: the
    reference corpus, when the table also holds the twelve nightly
    batches beyond it, and the same share of a smaller table."""
    return n_docs * REFERENCE_DOCS // (REFERENCE_DOCS + N_NIGHTS * NIGHT_DOCS)


def open_state(spark, root: str):
    from mcyj_datapipeline_spark.streaming import dedup_fold, release_fold

    return (
        dedup_fold.open_dedup_state(spark, root, num_buckets=8),
        release_fold.open_release_state(spark, root, num_buckets=8),
    )


def build_corpus_state(path: str) -> None:
    """Fold the corpus of the tables beside ``path`` into empty dedup
    and release state stored at ``path`` (runs in its own process)."""
    from pyspark.sql import functions as F

    from mcyj_datapipeline_spark.io import read_table
    from mcyj_datapipeline_spark.session import get_spark
    from mcyj_datapipeline_spark.streaming import dedup_fold, release_fold

    data_dir = os.path.dirname(path)
    n = pq.ParquetFile(os.path.join(data_dir, "documents.parquet")).metadata.num_rows
    stage = path + ".stage"
    shutil.rmtree(stage, ignore_errors=True)
    spark = get_spark(app_name="perfbench-corpus-state")
    try:
        corpus = read_table(spark, data_dir, "documents").filter(F.col("doc_id") < corpus_size(n))
        dedup, release = open_state(spark, stage)
        dedup_fold.fold_dedup_batch(corpus.select("doc_id", "text"), *dedup)
        release_fold.fold_release_batch(corpus.select("doc_id", "lang", "text"), release)
    finally:
        stop_spark(spark)
    os.replace(stage, path)


# graph curation stage of a night: the iterative graph operators and
# connected components (operators.graph and its checkpoint cadence)
CURATION = ["g1_pagerank_purchase_graph", "g3_label_propagation"]


class Nightly:
    """A nightly job starts in a fresh process every night, so it is
    measured from cold: no warm-up beyond bootstrapping the state from
    the corpus, and the window ends only at a night boundary."""

    name = "nightly"
    scale = "nightly"
    setup_reps = 0
    setup_layer = None
    etl = [
        "e2_document_info_parse",
        "u2_llm_enrich",
        "e6_dedup_corpus_rewrite",
    ]

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "nightly")
        docs = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet"))
        n = docs.num_rows
        corpus = corpus_size(n)
        self.nights = [list(range(corpus))] + night_split(ctx.seed, list(range(corpus, n)))
        self.docs = docs
        self.folded = 0  # nights folded so far
        self.base_con = duckdb_conn(ctx.data_dir)

    def _night_dir(self, k: int) -> str:
        return os.path.join(self.root, "nights", f"n{k:03d}")

    def setup_once(self) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        shutil.rmtree(self.root, ignore_errors=True)
        for k, ids in enumerate(self.nights):
            d = self._night_dir(k)
            os.makedirs(d)
            mask = pc.is_in(self.docs["doc_id"], pa.array(ids, pa.int64()))
            pq.write_table(self.docs.filter(mask), os.path.join(d, "documents.parquet"))
        state = os.path.join(self.root, "state")
        shutil.copytree(os.path.join(self.ctx.data_dir, "_corpus_state"), state)
        self.dedup_state, self.release_state = open_state(self.ctx.spark, state)
        self.folded = 1

    @staticmethod
    def prepare(data_dir: str) -> None:
        """Both folds' state after folding the corpus (night 0) into
        empty state. It is the same for every seed, so the first run in
        a checkout builds it, in a separate process so that the measured
        JVM stays cold, and every run copies it; each run then folds its
        nights into its own copy, as a nightly job that starts in a
        fresh process reads yesterday's state."""
        cached = os.path.join(data_dir, "_corpus_state")
        if not os.path.isdir(cached):
            code = f"from perfbench.workloads import build_corpus_state; build_corpus_state({cached!r})"
            subprocess.run([sys.executable, "-c", code], check=True, timeout=600)

    def input_bytes(self, upto: int) -> int:
        return sum(
            os.path.getsize(os.path.join(self._night_dir(k), "documents.parquet"))
            for k in range(upto)
        )

    def state_bytes(self) -> tuple[int, int]:
        total = files = 0
        for dirpath, _, names in os.walk(os.path.join(self.root, "state")):
            for n in names:
                if n.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(dirpath, n))
                    files += 1
        return total, files

    def _fold_ops(self, k: int) -> list[Op]:
        from pyspark.sql import functions as F

        from mcyj_datapipeline_spark.io import read_table
        from mcyj_datapipeline_spark.streaming import dedup_fold, release_fold

        ctx, d = self.ctx, self._night_dir(k)
        n_docs = len(self.nights[k])

        def fold_dedup():
            batch = read_table(ctx.spark, d, "documents").select("doc_id", "text")
            dedup_fold.fold_dedup_batch(batch, *self.dedup_state)

        def fold_release():
            batch = read_table(ctx.spark, d, "documents").select("doc_id", "lang", "text")
            release_fold.fold_release_batch(batch, self.release_state)
            self.folded = k + 1

        state = ("streaming.state_bytes_written_mb", os.path.join(self.root, "state"))
        ids_so_far = sorted(i for night in self.nights[: k + 1] for i in night)
        release_sql = ctx.oracles["e17_corpus_release_pipeline"]

        def release_oracle():
            con = duckdb_conn(ctx.data_dir)
            con.execute("CREATE TABLE so_far(doc_id BIGINT)")
            con.executemany("INSERT INTO so_far VALUES (?)", [(i,) for i in ids_so_far])
            con.execute("DROP VIEW documents")
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM '{ctx.data_dir}/documents.parquet' "
                "WHERE doc_id IN (SELECT doc_id FROM so_far)"
            )
            return duckdb_digest(con, release_sql)

        return [
            Op("fold_dedup", f"fold_dedup:{k}", fold_dedup, docs=n_docs, writes=state),
            Op("fold_release", f"fold_release:{k}", fold_release, docs=n_docs, writes=state),
            Op(
                "read_release",
                f"read_release:{k}",
                lambda: release_fold.publish_release(
                    self.release_state.read().select(
                        "doc_id", "lang", F.col("quality"), F.col("tokens")
                    )
                ),
                oracle=release_oracle,
            ),
        ]

    def _etl_ops(self, k: int) -> list[Op]:
        from pyspark.sql import functions as F

        from mcyj_datapipeline_spark import io
        from mcyj_datapipeline_spark.plans import doc_export, document_info

        ctx, d = self.ctx, self._night_dir(k)
        con = duckdb_conn(d)
        ops = [_registry_op(ctx, q, d, con, f":{k}") for q in self.etl]
        out = os.path.join(self.root, "export", f"n{k:03d}")

        def export():
            raw = io.read_table(ctx.spark, d, "documents").select(
                F.sha2(F.col("doc_id").cast("string"), 256).alias("sha256"),
                F.array(F.col("text")).alias("text"),
                F.lit("2024-01-01 00:00:00").alias("dateprocessed"),
            )
            info = document_info.document_info(raw)
            io.write_json_per_key(
                doc_export.build_doc_export(raw, document_info=info), out, "sha256"
            )

        def export_digest(_rows):
            keys = [[n.split("=", 1)[1]] for n in os.listdir(out) if n.startswith("sha256=")]
            return result_digest(["sha256"], keys)

        ops.append(
            Op(
                "doc_export",
                f"doc_export:{k}",
                export,
                oracle=lambda: duckdb_digest(
                    con, "SELECT sha256(doc_id::VARCHAR) AS sha256 FROM documents"
                ),
                digest=export_digest,
                docs=len(self.nights[k]),
                writes=("io.bytes_written_mb", out),
            )
        )
        return ops

    def night_ops(self, k: int) -> list[Op]:
        ops = self._etl_ops(k) + self._fold_ops(k)
        ops += [_registry_op(self.ctx, q, self.ctx.data_dir, self.base_con, f":{k}") for q in CURATION]
        for op in ops[:-1]:
            op.boundary = False
        return ops

    def warmup_ops(self):
        return []

    def ops(self):
        for k in range(1, len(self.nights)):
            yield from self.night_ops(k)

    def final_checks(self):
        nights = self.nights[: self.folded]

        def oracle():
            import pyarrow as pa

            con = duckdb_conn(self.ctx.data_dir)
            night_of = pa.table(
                {
                    "doc_id": pa.array([i for night in nights for i in night], pa.int64()),
                    "night": pa.array([k for k, night in enumerate(nights) for _ in night], pa.int64()),
                }
            )
            con.register("night_of", night_of)
            return duckdb_digest(con, _dedup_oracle_sql(nights))

        return [
            Op(
                "dedup_state",
                "dedup_state",
                lambda: self.dedup_state[1].read().select("doc_id", "cluster_id"),
                oracle=oracle,
            )
        ]

    def served(self, records) -> tuple[list[float], int]:
        """(wall of each completed night, documents those nights took in)."""
        nights: dict[str, list] = {}
        for r in records:
            nights.setdefault(r["key"].rsplit(":", 1)[-1], []).append(r)
        done = [rs for rs in nights.values() if rs[-1]["op"].boundary]
        walls = [sum(r["wall"] for r in rs) for rs in done]
        return walls, sum(r["docs"] for rs in done for r in rs if r["kind"] == "fold_release")

    def summary(self, records, window_s) -> dict:
        """Per-night figures: documents per second, night wall, release
        read-back, and stored state bytes per input byte."""
        walls, docs = self.served(records)
        reads = [r["wall"] for r in records if r["kind"] == "read_release"]
        stored, files = self.state_bytes()
        return {
            "nights": len(walls),
            "docs_per_s": docs / window_s,
            "night_p50_s": median(walls),
            "read_p50_s": median(reads),
            "bytes_stored_per_input_byte": stored / max(self.input_bytes(self.folded), 1),
            "streaming.state_files": files,
        }


WORKLOADS = {w.name: w for w in (Dashboard, Nightly)}


def prepare_inputs(workload: str, data_root: str, smoke: bool) -> str:
    """Generate (or reuse) the workload's tables and derived inputs;
    returns the table directory."""
    cls = WORKLOADS[workload]
    data_dir = datagen.generate(data_root, "tiny" if smoke else cls.scale)
    cls.prepare(data_dir)
    return data_dir
