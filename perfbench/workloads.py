"""The benchmark's workloads. Each one has a set-up that makes its inputs
and expected outputs, a pass (the unit the closed loop repeats) and an
output check. The program is driven only through its public calls:
``recon_spark.cli.main`` and ``recon_spark.plans.corpus``."""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys
import time
import unicodedata
from collections import Counter

from . import data

ENGINES = ("a", "b", "c", "d")


def _oracle_sql(e: str) -> str:
    """Engine output with every column the correction builder reads: the
    graded engine oracle for B (plus the Matrix participant name) and D;
    for A and C the oracle's final CTE, which also carries the merge-side
    and date-tolerance flags."""
    from recon_spark.oracles import engines_sql as E

    if e == "b":
        # the CLI's builder names the participant from the Matrix row
        if not E.ENGINE_B_SELECT.startswith("SELECT"):
            raise RuntimeError("engine B oracle no longer starts with its SELECT")
        return f"{E.ENGINE_B_CTES}\nSELECT participant_name,{E.ENGINE_B_SELECT[6:]}"
    if e == "d":
        return E.ENGINE_D_SQL
    return f"{E.ALL_ENGINES_CTES}\nSELECT * FROM {'ea_out' if e == 'a' else 'ec_final'}"


#: corrections per engine at the default scale. They depend only on the
#: base tables, never on ``--seed`` (row order and file split), so a
#: seed-dependent count is a defect of the program, not of the input.
EXPECTED_CORRECTIONS = {
    0.01: {"a": 1979, "b": 1684, "c": 3051, "d": 695},
    0.005: {"a": 960, "b": 879, "c": 1444, "d": 330},
    0.002: {"a": 378, "b": 360, "c": 581, "d": 133},
    0.001: {"a": 191, "b": 161, "c": 292, "d": 60},
}


def drop_cached(probe) -> int:
    """End-of-pass cleanup: call every staged-frame release hook the program
    exposes (module-level ``release_*`` functions), then drop every cached
    block (``cli.main`` persists its corrections frame and leaves it).
    Returns how many cached frames were still live after the hooks."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("recon_spark.") or mod is None:
            continue
        for attr in dir(mod):
            fn = getattr(mod, attr)
            if attr.startswith("release_") and callable(fn) and getattr(fn, "__module__", None) == name:
                with contextlib.suppress(TypeError):
                    fn()
    left = probe.persistent_rdds()
    probe.spark.catalog.clearCache()
    return left


def _cell(v):
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return None if v is None else str(v)


def _tokens(action) -> list[str]:
    if action is None:
        return []
    out = []
    for t in str(action).replace("\r\n", "\n").split("\n"):
        t = t.strip().upper()
        if t and t not in out:
            out.append(t)
    return out


# --- reconcile_batch ---------------------------------------------------------


class ReconcileBatch:
    """``cli.main`` for engines A-D over four raw parquet exports, each
    call writing its correction file."""

    name = "reconcile_batch"
    default_scale = 0.002

    def __init__(self, ctx):
        self.ctx = ctx

    def generate(self, work: str):
        self.base = os.path.join(work, "base")
        raw = os.path.join(work, "raw")
        data.base_tables(self.base, self.ctx.scale)
        rows = data.raw_exports(self.base, raw, self.ctx.seed)
        self.raw, self.input_rows = raw, sum(rows.values())
        self.out = os.path.join(work, "out")

    def prepare_check(self):
        self.expected = self._oracle(self.base)

    def _oracle(self, base: str) -> dict[str, Counter]:
        """Per engine, the multiset of rows the correction sink must write:
        the DuckDB engine oracles, filtered and projected as the correction
        template prescribes, with each Action token exploded to its tab."""
        import duckdb

        from recon_spark.oracles import plans_sql

        con = duckdb.connect()
        try:
            con.execute("SET threads=2; SET memory_limit='1GB'")
            for t in ("customer", "orders"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base}/{t}.parquet'")
            expected = {}
            for e in ENGINES:
                cur = con.execute(_oracle_sql(e))
                cols = [d[0] for d in cur.description]
                expected[e] = Counter(
                    row for r in cur.fetchall() for row in _correction_rows(dict(zip(cols, r)))
                )
            # the graded corrections oracle must agree on engines A and C
            graded = dict(
                con.execute(
                    f"SELECT engine, count(*) FROM ({plans_sql.CORRECTIONS_ALL_SQL}) GROUP BY 1"
                ).fetchall()
            )
        finally:
            con.close()
        self.expected_counts = {e: _n_corrections(expected[e]) for e in ENGINES}
        for e in ("a", "c"):
            if graded.get(f"engine_{e}", 0) != self.expected_counts[e]:
                raise AssertionError(
                    f"oracle disagreement on engine {e}: {graded.get(f'engine_{e}')} vs "
                    f"{self.expected_counts[e]}"
                )
        want = EXPECTED_CORRECTIONS.get(self.ctx.scale)
        if want is not None and want != self.expected_counts:
            raise AssertionError(f"expected corrections {want}, oracle gives {self.expected_counts}")
        return expected

    def run_pass(self, tracer=None) -> dict[str, float]:
        """One pass; returns the wall seconds of each engine's call."""
        from recon_spark import cli

        per_engine = {}
        for e in ENGINES:
            argv = [
                "--engine", e,
                "--relius", f"{self.raw}/relius", "--matrix", f"{self.raw}/matrix",
                "--demo", f"{self.raw}/demo", "--roth-basis", f"{self.raw}/basis",
                "--input-format", "parquet",
                "--out", f"{self.out}/{e}",
                "--cpus", str(self.ctx.cpus),
            ]
            t0 = time.perf_counter()
            with contextlib.redirect_stdout(sys.stderr):
                span = tracer.span(f"cli.engine_{e}") if tracer else contextlib.nullcontext()
                with span:
                    rc = cli.main(argv)
            per_engine[e] = time.perf_counter() - t0
            if rc != 0:
                raise RuntimeError(f"cli.main exited {rc} for engine {e}")
        return per_engine

    def check(self) -> str | None:
        import duckdb

        con = duckdb.connect()
        try:
            for e in ENGINES:
                cur = con.execute(
                    f"SELECT * FROM read_parquet('{self.out}/{e}/*/*.parquet', hive_partitioning=true)"
                )
                cols = [d[0] for d in cur.description]
                got = Counter(
                    tuple(_cell(r[cols.index(c)]) for c in _CORR_COLS + ["Tab"]) for r in cur.fetchall()
                )
                if got != self.expected[e]:
                    extra = got - self.expected[e]
                    missing = self.expected[e] - got
                    return (
                        f"engine {e}: {sum(extra.values())} unexpected and "
                        f"{sum(missing.values())} missing rows, e.g. "
                        f"{next(iter(extra or missing))}"
                    )
        finally:
            con.close()
        return None


_CORR_COLS = [
    "Transaction Id", "Transaction Date", "Participant SSN", "Participant Name",
    "Matrix Account", "Current Tax Code 1", "Current Tax Code 2", "New Tax Code",
    "New Taxable Amount", "New First Year contrib", "Reason", "Action",
]
_SUGGESTIONS = (
    "suggested_tax_code_1", "suggested_tax_code_2",
    "suggested_taxable_amt", "suggested_first_roth_tax_year",
)


def _combined(a, b):
    a = (a or "").strip().upper() or None
    b = (b or "").strip().upper() or None
    return None if a is None else (a + b if b else a)


def _correction_rows(r: dict):
    """One engine-output row -> the rows the correction sink writes for it
    (none, or one per tab its Action names)."""
    if r.get("match_status") not in ("match_needs_correction", "match_needs_review"):
        return []
    tokens = _tokens(r.get("action")) if "action" in r else None
    suggested = any(r.get(c) is not None for c in _SUGGESTIONS if c in r)
    if tokens is not None and "INVESTIGATE" in tokens:
        suggested = True
    if not suggested:
        return []
    if "merge_side" in r and r["merge_side"] != "both":
        return []
    if "date_within_tolerance" in r and not r["date_within_tolerance"]:
        return []
    tabs = [t for t in (tokens or []) if t in ("UPDATE_1099", "INVESTIGATE")]
    if not tabs:
        return []
    new_code = r["new_tax_code"] if "new_tax_code" in r else _combined(
        r.get("suggested_tax_code_1"), r.get("suggested_tax_code_2")
    )
    taxable = r.get("suggested_taxable_amt")
    first = r.get("suggested_first_roth_tax_year")
    base = [
        r.get("transaction_id"), r.get("txn_date"), r.get("ssn"),
        r.get("participant_name", r.get("full_name")), r.get("matrix_account"),
        r.get("tax_code_1"), r.get("tax_code_2"), new_code,
        None if taxable is None else float(taxable),
        None if first is None else int(first),
        r.get("correction_reason"),
    ]
    return [
        tuple(_cell(v) for v in base)
        + (t, "Correction" if t == "UPDATE_1099" else "Investigate")
        for t in tabs
    ]


def _n_corrections(rows: Counter) -> int:
    """Correction-frame rows behind a tab multiset: a row naming both
    tokens sits in both tabs but is one correction."""
    upd = Counter({k[:-2]: c for k, c in rows.items() if k[-1] == "Correction"})
    inv = Counter({k[:-2]: c for k, c in rows.items() if k[-1] == "Investigate"})
    return sum(rows.values()) - sum((upd & inv).values())


# --- corpus_build ------------------------------------------------------------

CORPUS_OPTIONS = dict(
    perplexity_keep=0.95,
    unicode_form="NFC",
    c4_lines=True,
    dedup_paras=True,
    boilerplate_spans=8,
    near_dup_method="auto",
    bpe_merges=200,
)


def _norm_text(t: str) -> str:
    return " ".join(unicodedata.normalize("NFC", t).split())


class CorpusBuild:
    """``plans.corpus.build_training_corpus`` with every stage on, over the
    seeded page corpus, collected."""

    name = "corpus_build"
    default_scale = 0.01

    def __init__(self, ctx):
        self.ctx = ctx
        self.digest = None

    def generate(self, work: str):
        base = os.path.join(work, "base")
        n = data.base_tables(base, self.ctx.scale)
        self.pages_path = os.path.join(work, "pages.parquet")
        self.pages = dict(data.corpus_pages(base, self.pages_path, self.ctx.seed))
        self.input_rows = n["documents"]

    def prepare_check(self):
        pass

    def run_pass(self, tracer=None) -> dict[str, float]:
        """One pass; returns the wall seconds of the build and the action."""
        from pyspark.sql import functions as F

        from recon_spark.operators import packing, sampling
        from recon_spark.plans import corpus

        spark = self.ctx.spark
        span = tracer.span if tracer else (lambda _n: contextlib.nullcontext())
        t0 = time.perf_counter()
        with span("corpus.build"):
            pages = spark.read.parquet(self.pages_path).repartition(
                spark.sparkContext.defaultParallelism
            )
            ref = sampling.with_split(pages).filter(F.col("split") == "train")
            df = corpus.build_training_corpus(pages, perplexity_ref=ref, **CORPUS_OPTIONS)
        t1 = time.perf_counter()
        with span("corpus.action"):
            self.rows = [tuple(r) for r in df.select(
                "doc_id", "n_tokens", "split", "bin_id", "bin_offset"
            ).collect()]
        self.budget = packing.DEFAULT_BUDGET
        return {"build": t1 - t0, "action": time.perf_counter() - t1}

    def check(self) -> str | None:
        rows = self.rows
        if not rows:
            return "no survivors"
        ids = [r[0] for r in rows]
        if len(set(ids)) != len(ids):
            return "a document survives twice"
        if not set(ids) <= set(self.pages):
            return f"survivors not in the input: {sorted(set(ids) - set(self.pages))[:5]}"
        texts = Counter(_norm_text(self.pages[i]) for i in ids)
        if texts.most_common(1)[0][1] > 1:
            return "two survivors share the same normalized text"
        # packing is concat-and-chunk per split: every offset lies inside
        # its bin and the documents tile each split's token stream exactly
        streams: dict = {}
        for _id, n_tok, split, bin_id, off in rows:
            if not 0 <= off < self.budget or n_tok < 0:
                return f"document {_id} sits outside its {self.budget}-token bin"
            streams.setdefault(split, []).append((bin_id * self.budget + off, n_tok))
        for split, docs in streams.items():
            pos = 0
            for start, n_tok in sorted(docs):
                if start != pos:
                    return f"split {split}: token stream gap or overlap at {pos}"
                pos += n_tok
        digest = hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:16]
        if self.digest not in (None, digest):
            return f"output digest changed between passes: {self.digest} -> {digest}"
        self.digest = digest
        return None


WORKLOADS = {w.name: w for w in (ReconcileBatch, CorpusBuild)}
