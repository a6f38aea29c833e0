"""The workloads, each run against the production plan's public entry
points:

  html_extract    synthetic pages -> plans.extract.extract_documents -> noop
  words_flagship  lineitem words  -> queries()["flagship_body_text"] -> noop

The resume path (plans.resume) is measured in html_extract's traced run.

A workload object runs one process's share of the benchmark:
  setup()        writes the seeded inputs once (no Spark job): the full
                 input and a small warm-up input;
  warm_up()      runs the composed action once on the warm-up input (in
                 html_extract's traced run: the resume layer's first
                 commit), so the JVM's code generation and JIT and the
                 Python workers' start-up are paid before anything else;
  rep()          one run of the composed action on the full input to a
                 noop sink, from nothing persisted, fingerprinting its
                 output on the way;
  oracle()       computes the reference output;
  verify()       accounts a run as passed when its fingerprint equals the
                 reference's, else collects its output and counts the urls
                 that are missing, duplicated or differ;
  traced(tr)     an untraced reference, a check that the traced chain
                 plans exactly as the production plan does, then the
                 layer-by-layer run: one span per call into a layer, each
                 over an input materialised before the span started.
"""

from __future__ import annotations

import glob
import os
import random
import time
from collections import Counter

import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from .harness import (
    INSPECT,
    cached_mb,
    is_cold,
    materialise,
    persisted_rdds,
    plan_counts,
    release_caches,
)
from .inputs import (
    duckdb_flagship,
    pyref_bodies,
    url_check,
    write_lineitem,
    write_pages,
)

N_BUCKETS = 256  # job.py's default
PYREF_SAMPLE = 300  # html docs whose body is compared with the pyref body
FLAGSHIP_SAMPLE = 10  # of the 50 flagship docs, compared with the DuckDB twin's
SIZES = {
    "full": {"pages": 1000, "warm_pages": 32, "resume_pages": 128,
             "lineitem_rows": 300_000, "warm_lineitem_rows": 6_000},
    "tiny": {"pages": 32, "warm_pages": 8, "resume_pages": 8,
             "lineitem_rows": 6_000, "warm_lineitem_rows": 1_000},
}

# per-layer metrics: every layer gets the generic five, plus its extras
GENERIC = [("self_s", "s"), ("task_s", "s"), ("shuffle_write_mb", "MB"),
           ("spill_mb", "MB"), ("task_skew", "ratio")]
PLAN3 = [("plan_sort", "count"), ("plan_window", "count"), ("plan_exchange", "count")]
LAYERS = {
    "sources.tokenizer": [("words_out", "count"), ("words_per_s", "1/s"),
                          ("empty_docs", "count")],
    "sources.tables": [("words_out", "count")],
    "operators.lines": [("lines_out", "count"), ("blank_lines_dropped", "count")] + PLAN3,
    "operators.spacing": [("rules_out", "count")],
    "operators.blocks": [("blocks_out", "count"), ("plan_window", "count")],
    "operators.boundaries": [("candidates_out", "count"), ("blocks_kept", "count"),
                             ("blocks_dropped", "count")],
    "plans.extract": [("build_s", "s"), ("overhead_s", "s"), ("layer_coverage", "ratio"),
                      ("trace_overhead_s", "s"), ("cache_scans", "count"),
                      ("cache_mb", "MB"), ("persisted_after", "count")] + PLAN3,
    "plans.resume": [("land_s", "s"), ("audit_publish_s", "s"), ("filter_s", "s"),
                     ("files_written", "count"), ("bytes_per_doc", "B"),
                     ("markers_published", "count"), ("redo_ratio", "ratio")],
}
PER_LAYER = [(f"{layer}.{m}", unit)
             for layer, extra in LAYERS.items() for m, unit in GENERIC + extra]


def _fingerprint(cols, sample):
    """Row count, summed xxhash64 of the urls and summed xxhash64 of the
    rows of the sampled urls. Equal fingerprints mean each url once and
    the same values on the rows compared."""
    rows = F.when(F.col("url").isin(sorted(sample)),
                  F.xxhash64(*cols).cast("decimal(38,0)"))
    return (F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("url").cast("decimal(38,0)")).alias("u"),
            F.sum(rows).alias("h"))


def _noop_with_fingerprint(df, cols, sample) -> tuple:
    """Write the full output to a noop sink; the fingerprint rides the
    same action via DataFrame.observe."""
    obs = Observation()
    df.observe(obs, *_fingerprint(cols, sample)).write.format("noop").mode("overwrite").save()
    fp = obs.get
    return fp["n"], fp["u"], fp["h"]


class Ctx:
    """What a workload needs from the run: session, sizes, scratch dirs,
    and the tallies every check adds to."""

    def __init__(self, spark, sampler, work: str, seed: int, size: str, nproc: int):
        self.spark, self.sampler = spark, sampler
        self.work, self.seed, self.nproc = work, seed, nproc
        self.size = SIZES[size]
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def account(self, what: str, attempted: int, bad: int) -> None:
        self.attempted += attempted
        self.failed += bad
        if bad:
            self.problems.append(f"{what}: {bad} of {attempted} docs failed")

    def require_cold(self, what: str) -> bool:
        cold = is_cold(self.spark)
        if not cold:
            self.problems.append(f"{what}: started with persisted data")
        return cold


# ----------------------------------------------------- traced layer chain --


LINES_CALL = "assign_line_ids_window>build_segments>assemble_lines>drop_blank_lines"


class _Steps:
    """Runs one layer chain traced: each step records its own plan shape
    (its cached inputs excluded), then builds its output again inside a
    span and materialises it, so the next step starts from a cache."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.plans: dict[str, Counter] = {}
        self.rows: dict[str, int] = {}  # output rows of each call

    def __call__(self, layer: str, call: str, build):
        # a span of its own, so the inspection is not counted as any
        # layer's self time (nor as the composed plan's overhead)
        with self.tracer.span(INSPECT, layer):
            self.plans.setdefault(layer, Counter()).update(
                plan_counts(build(), include_cached=False))
        with self.tracer.span(layer, call):
            df, self.rows[call] = materialise(build())
        return df


def _compose_step(layer: str, call: str, build):
    """Builds the chain as one plan, persisting only what the production
    plan persists (the lines); nothing runs."""
    return build().persist() if layer == "operators.lines" else build()


def _extraction_chain(pages, step, cfg, keep: dict):
    """extract_documents' words -> lines chain, one step per layer."""
    from pdf_plumber_util_spark.operators.lines import (
        assemble_lines, assign_line_ids_window, build_segments, drop_blank_lines)
    from pdf_plumber_util_spark.sources.tokenizer import page_dims, tokenize_pages

    words = step("sources.tokenizer", "tokenize_pages", lambda: tokenize_pages(pages))

    def lines():
        uw = words.repartition(F.col("url"))
        wl = assign_line_ids_window(uw, cfg.y_tolerance)
        keep["lines"] = assemble_lines(wl, build_segments(wl), page_dims(uw),
                                       include_proportional=False)
        return drop_blank_lines(keep["lines"])

    keep["words"] = words
    keep["flines"] = step("operators.lines", LINES_CALL, lines)


def _contract_chain(spark, sf_dir: str, step, keep: dict):
    """The flagship query's words -> lines chain (contract._lines_df)."""
    from pdf_plumber_util_spark.operators.lines import (
        assemble_lines, assign_line_ids_window, build_segments, drop_blank_lines)
    from pdf_plumber_util_spark.sources.tables import words_from_lineitem
    from pdf_plumber_util_spark.sources.tokenizer import page_dims

    words = step("sources.tables", "words_from_lineitem",
                 lambda: words_from_lineitem(spark, sf_dir))

    def lines():
        wl = assign_line_ids_window(words)
        keep["lines"] = assemble_lines(wl, build_segments(wl), page_dims(words),
                                       include_proportional=False)
        return drop_blank_lines(keep["lines"]).repartition(F.col("url"))

    keep["words"] = words
    keep["flines"] = step("operators.lines", LINES_CALL, lines)


def _doc_bottom(flines):
    """q_body_text's doc-level aggregate: the boundary default only."""
    stats = flines.groupBy("url").agg(F.max(F.col("bbox")["bottom"]).alias("doc_bottom"))
    return stats, stats


def _doc_stats(flines):
    """extract_documents' doc-level aggregate: the boundary default and
    the parse metrics in one."""
    stats = flines.groupBy("url").agg(
        F.max(F.col("bbox")["bottom"]).alias("doc_bottom"),
        F.count("*").alias("n_lines"),
        F.countDistinct("page").alias("n_pages"),
    )
    return stats, stats.select("url", "doc_bottom")


def _analysis_chain(step, cfg, keep: dict, doc_stats):
    """The shared tail: rules -> blocks -> boundaries -> body."""
    from pdf_plumber_util_spark.operators.blocks import form_blocks
    from pdf_plumber_util_spark.operators.boundaries import (
        body_text, final_boundaries, header_footer_candidates)
    from pdf_plumber_util_spark.operators.spacing import contextual_spacing_rules

    flines = keep["flines"]
    rules = step("operators.spacing", "contextual_spacing_rules",
                 lambda: contextual_spacing_rules(
                     flines, gap_rounding=cfg.gap_rounding,
                     lo_mult=cfg.line_spacing_lo_mult,
                     hi_mult=cfg.line_spacing_hi_mult,
                     para_mult=cfg.para_spacing_mult))
    blocks = step("operators.blocks", "form_blocks", lambda: form_blocks(flines, rules))

    def bounds():
        keep["cands"] = header_footer_candidates(
            flines, header_zone_pt=cfg.header_zone_pt,
            footer_zone_in=cfg.footer_zone_inches, large_mult=cfg.large_gap_mult)
        keep["doc_stats"], bottom = doc_stats(flines)
        return final_boundaries(keep["cands"], bottom)

    keep["rules"], keep["blocks"] = rules, blocks
    keep["bounds"] = step("operators.boundaries", "header_footer_candidates"
                          ">final_boundaries", bounds)
    keep["body"] = step("operators.boundaries", "body_text",
                        lambda: body_text(blocks, keep["bounds"],
                                          max_body_chars=cfg.max_body_chars))


def _chain_counts(keep: dict, rows: dict, n_docs: int, words_layer: str) -> dict[str, float]:
    """Output counts of the traced chain: those of the materialised steps
    as their writes observed them, the rest counted after the spans."""
    words_call = "tokenize_pages" if words_layer == "sources.tokenizer" else "words_from_lineitem"
    m: dict[str, float] = {
        f"{words_layer}.words_out": rows[words_call],
        "operators.lines.lines_out": rows[LINES_CALL],
        "operators.spacing.rules_out": rows["contextual_spacing_rules"],
        "operators.blocks.blocks_out": rows["form_blocks"],
    }
    if words_layer == "sources.tokenizer":
        m["sources.tokenizer.empty_docs"] = n_docs - keep["words"].select("url").distinct().count()
    m["operators.lines.blank_lines_dropped"] = (
        keep["lines"].count() - m["operators.lines.lines_out"])
    m["operators.boundaries.candidates_out"] = keep["cands"].count()
    kept = keep["body"].agg(F.sum("n_blocks_kept").alias("k"),
                            F.sum("n_blocks_dropped").alias("d")).first()
    m["operators.boundaries.blocks_kept"] = kept["k"] or 0
    m["operators.boundaries.blocks_dropped"] = kept["d"] or 0
    return m


def _plan_metrics(steps: _Steps) -> dict[str, float]:
    m = {}
    lines = steps.plans.get("operators.lines", Counter())
    m["operators.lines.plan_sort"] = lines["Sort"]
    m["operators.lines.plan_window"] = lines["Window"]
    m["operators.lines.plan_exchange"] = lines["Exchange"]
    m["operators.blocks.plan_window"] = steps.plans.get("operators.blocks", Counter())["Window"]
    return m


def _composed_plan_metrics(c: Counter) -> dict[str, float]:
    return {"plans.extract.cache_scans": c["InMemoryTableScan"],
            "plans.extract.plan_sort": c["Sort"],
            "plans.extract.plan_window": c["Window"],
            "plans.extract.plan_exchange": c["Exchange"]}


# -------------------------------------------------------------- workloads --


class WordsFlagship:
    """The contract's flagship query over the lineitem-derived words table,
    written to a `noop` sink. Every url must come out once; the rows of a
    seed-chosen sample of urls must equal the DuckDB SQL twin's."""

    composed_call = "flagship_body_text"
    words_layer = "sources.tables"
    cols = ("url", "body_text", "n_blocks_kept", "n_blocks_dropped", "chars_extracted")
    schema = ("url string, body_text string, n_blocks_kept long, "
              "n_blocks_dropped long, chars_extracted long")
    doc_stats = staticmethod(_doc_bottom)
    n_compared = FLAGSHIP_SAMPLE

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.urls: list[str] = []  # every url of the full input
        self.sample: set[str] = set()  # the urls compared with the oracle
        self.want = None  # oracle output, one row per sampled url
        self._expected = None

    def setup(self) -> None:
        ctx = self.ctx
        self.source, self.warm_source = f"{ctx.work}/sf", f"{ctx.work}/sf_warm"
        self.urls = write_lineitem(self.source, ctx.size["lineitem_rows"], ctx.seed)
        write_lineitem(self.warm_source, ctx.size["warm_lineitem_rows"], ctx.seed)
        self._choose_sample()

    def _choose_sample(self) -> None:
        k = min(self.n_compared, len(self.urls))
        self.sample = set(random.Random(self.ctx.seed).sample(self.urls, k))

    def oracle(self) -> None:
        self.want = duckdb_flagship(self.source, f"{self.ctx.work}/tmp", self.sample)

    def compose(self, source: str):
        """The composed action's output over `source` and the caller's
        release of the caches that action leaves to it."""
        import __spark_entry__
        from pdf_plumber_util_spark.contract import clear_shared_lines

        df = __spark_entry__.queries()["flagship_body_text"](self.ctx.spark, source)
        return df, clear_shared_lines

    def diagnose(self, got) -> set[str]:
        """Urls whose output row is missing, duplicated or differs from the
        oracle's, compared as tools/compare_oracle.py normalises them."""
        from tools.compare_oracle import normalize

        bad = url_check(got["url"].tolist(), self.urls)
        g = normalize(got[got["url"].isin(self.sample)]).set_index("url")
        w = normalize(self.want).set_index("url")
        both = g.index.intersection(w.index)
        differ = (g.loc[both] != w.loc[both]).any(axis=1)
        return bad | set(both[differ.to_numpy()]) | set(g.index.symmetric_difference(w.index))

    def expected(self) -> tuple:
        """The fingerprint of the right output: every url once, the
        oracle's rows on the sampled urls."""
        if self._expected is None:
            by_url = {r["url"]: r for r in self.want[list(self.cols)].to_dict("records")}
            rows = [tuple(by_url[u][c] for c in self.cols) if u in by_url
                    else (u,) + (None,) * (len(self.cols) - 1) for u in self.urls]
            ref = self.ctx.spark.createDataFrame(rows, self.schema)
            row = ref.agg(*_fingerprint(self.cols, self.sample)).first()
            self._expected = (row["n"], row["u"], row["h"])
        return self._expected

    def verify(self, what: str, fp: tuple, cold: bool) -> bool:
        """Account for one run's output: it passes when its fingerprint
        equals the oracle's. Otherwise the output is collected (untimed)
        and the failing urls counted."""
        n = len(self.urls)
        if not cold:  # it shared caches with an earlier run: not evidence
            self.ctx.account(what, n, n)
            return False
        if fp == self.expected():
            self.ctx.account(what, n, 0)
            return True
        df, release = self.compose(self.source)
        got = df.select(*self.cols).toPandas()
        release()
        release_caches(self.ctx.spark)
        self.ctx.account(what, n, max(1, len(self.diagnose(got))))
        return False

    def warm_up(self, tr=None) -> float:
        """The composed action once over the warm-up input; returns its
        wall time."""
        t0 = time.perf_counter()
        df, release = self.compose(self.warm_source)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        release()
        release_caches(self.ctx.spark)
        return wall

    def rep(self, what: str) -> dict:
        """One timed run to a noop sink, from nothing persisted."""
        ctx = self.ctx
        cold = ctx.require_cold(what)
        with ctx.sampler.window():
            t0 = time.perf_counter()
            df, release = self.compose(self.source)
            fp = _noop_with_fingerprint(df, self.cols, self.sample)
            wall = time.perf_counter() - t0
        r = {"what": what, "wall_s": wall, "fp": fp, "cold": cold}
        release()
        release_caches(ctx.spark)
        return r

    def reference(self, tr) -> dict[str, float]:
        """The traced run's untraced reference: rep()'s action, with the
        production plan inspected between building it and running it.
        The inspection is untimed; the wall time is the build (DataFrame
        calls and physical planning, `build_s`) plus the action."""
        ctx = self.ctx
        cold = ctx.require_cold("untraced reference")
        t0 = time.perf_counter()
        df, release = self.compose(self.source)
        df._jdf.queryExecution().executedPlan()
        build_s = time.perf_counter() - t0
        with tr.span(INSPECT, "production plan"):
            nodes = plan_counts(df, include_cached=True)
        t1 = time.perf_counter()
        fp = _noop_with_fingerprint(df, self.cols, self.sample)
        wall = build_s + time.perf_counter() - t1
        m = _composed_plan_metrics(nodes)
        m["plans.extract.build_s"] = build_s
        m["plans.extract.cache_mb"] = cached_mb(ctx.spark)
        release()
        m["plans.extract.persisted_after"] = persisted_rdds(ctx.spark)
        release_caches(ctx.spark)
        self.verify("untraced reference", fp, cold)
        m["untraced_wall_s"] = wall
        m["composed_plan_nodes"] = dict(nodes)
        return m

    def check_chain(self, tr, want: Counter) -> None:
        """The traced chain re-builds how the production plan composes the
        layers. Before it runs, compare its plan, built as one with only
        the lines persisted, with the production plan's node counts
        `want`, node kind by node kind: a mismatch means the copy has
        drifted and the per-layer figures no longer measure the
        production plan."""
        from pdf_plumber_util_spark.config import DEFAULT

        with tr.span(INSPECT, "traced chain plan"):
            keep: dict = {}
            self._chain(_compose_step, DEFAULT, keep)
            got = plan_counts(self._final(keep), include_cached=True)
            release_caches(self.ctx.spark)
        if got != want:
            diff = {k: (got[k], want[k]) for k in sorted(set(got) | set(want))
                    if got[k] != want[k]}
            self.ctx.problems.append(
                f"traced chain plans differently from {self.composed_call} "
                f"(node kind: (chain, production)): {diff}")

    def traced(self, tr) -> dict[str, float]:
        """Untraced reference, the chain's drift check, then the traced
        layer chain."""
        from pdf_plumber_util_spark.config import DEFAULT

        ctx = self.ctx
        m = self.reference(tr)
        self.check_chain(tr, Counter(m["composed_plan_nodes"]))

        keep: dict = {}
        steps = _Steps(tr)
        with tr.span("plans.extract", self.composed_call):
            self._chain(steps, DEFAULT, keep)
            fp = _noop_with_fingerprint(self._final(keep), self.cols, self.sample)
        m.update(_chain_counts(keep, steps.rows, len(self.urls), self.words_layer))
        release_caches(ctx.spark)
        self.verify("traced run", fp, True)
        m.update(_plan_metrics(steps))
        m["plan_nodes_by_layer"] = {k: dict(v) for k, v in steps.plans.items()}
        return m

    def _chain(self, step, cfg, keep):
        _contract_chain(self.ctx.spark, self.source, step, keep)
        _analysis_chain(step, cfg, keep, self.doc_stats)

    def _final(self, keep):
        return keep["body"].select(
            "url", "body_text",
            *[F.col(c).cast("long").alias(c)
              for c in ("n_blocks_kept", "n_blocks_dropped", "chars_extracted")])


class HtmlExtract(WordsFlagship):
    """Synthetic pages through extract_documents to a noop sink. Every url
    must come out once; the bodies of a seed-chosen sample of urls must
    equal the pure-Python reference's. Its traced run also measures the
    resume layer over the first pages of the full input: run_resumable
    commits them into 256 buckets, the markers of a seed-chosen half are
    deleted (a crash between landing and publishing), and resume_filter
    selects what a resumed run would process again."""

    composed_call = "extract_documents"
    words_layer = "sources.tokenizer"
    cols = ("url", "body_text")
    schema = "url string, body_text string"
    doc_stats = staticmethod(_doc_stats)
    n_compared = PYREF_SAMPLE

    def setup(self) -> None:
        ctx = self.ctx
        self.source, self.warm_source = f"{ctx.work}/pages", f"{ctx.work}/pages_warm"
        self.urls = write_pages(self.source, ctx.size["pages"], ctx.seed, ctx.nproc)
        write_pages(self.warm_source, ctx.size["warm_pages"], ctx.seed, ctx.nproc)
        self._choose_sample()

    def oracle(self) -> None:
        ids = [i for i, u in enumerate(self.urls) if u in self.sample]
        self.refs = pyref_bodies(ids, self.ctx.seed)
        self.want = pd.DataFrame({"url": list(self.refs), "body_text": list(self.refs.values())})

    def pages(self, source: str | None = None):
        return self.ctx.spark.read.parquet(source or self.source)

    def compose(self, source: str):
        from pdf_plumber_util_spark.plans.extract import extract_documents

        handle: list = []
        df = extract_documents(self.pages(source), cache_handle=handle)

        def release():
            for cached in handle:
                cached.unpersist()

        return df, release

    def diagnose(self, got, urls=None) -> set[str]:
        """Urls of `urls` (default: the full input's) that are missing or
        duplicated in `got`, urls in it that are not, and sampled urls
        whose body differs from the reference's."""
        urls = self.urls if urls is None else urls
        bad = url_check(got["url"].tolist(), urls)
        body = dict(zip(got["url"], got["body_text"]))
        return bad | {u for u in set(urls) & set(self.refs)
                      if body.get(u) != self.refs[u]}

    def _lose_half(self, out_dir: str) -> int:
        """Delete the markers of a seed-chosen half of the published
        buckets; returns the docs those buckets hold."""
        import json

        markers = sorted(glob.glob(f"{out_dir}/_sidecar/bucket_*.json"))
        lost = random.Random(self.ctx.seed).sample(markers, len(markers) // 2)
        docs = 0
        for path in lost:
            with open(path) as fh:
                meta = json.load(fh)
            docs += meta["n_docs"] + meta["parse_failures"]
            for p in (path, os.path.join(os.path.dirname(path),
                                         f".{os.path.basename(path)}.crc")):
                if os.path.exists(p):
                    os.remove(p)
        return docs

    def _check_landed(self, what: str, out_dir: str) -> int:
        """Re-read what landed and the markers; every page of the resume
        input must be landed once under a published marker that counts it, with no
        parse failures, and the sampled bodies must equal the reference's.
        Returns the number of markers."""
        import json

        import pyarrow.dataset as ds

        table = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(
            columns=["url", "body_text", "url_bucket"]).to_pydict()
        urls = self.urls[:self.ctx.size["resume_pages"]]
        bad = self.diagnose(pd.DataFrame({"url": table["url"],
                                          "body_text": table["body_text"]}), urls)
        markers = {}
        for p in glob.glob(f"{out_dir}/_sidecar/bucket_*.json"):
            with open(p) as fh:
                meta = json.load(fh)
            markers[meta["url_bucket"]] = meta
        landed: dict[int, int] = {}
        for b in table["url_bucket"]:
            landed[b] = landed.get(b, 0) + 1
        for u, b in zip(table["url"], table["url_bucket"]):
            meta = markers.get(b)
            if meta is None or meta["n_docs"] != landed[b] or meta["parse_failures"]:
                bad.add(u)
        self.ctx.account(what, len(urls), len(bad))
        return len(markers)

    def warm_up(self, tr=None) -> float:
        """Untraced: as for words_flagship. Traced: the resume layer's
        first commit, over the first pages of the full input, is the
        JVM's first action; it runs cold, as a submitted job's does, and
        warms the extraction plan it runs inside."""
        if tr is None:
            return super().warm_up()
        from pdf_plumber_util_spark.plans.resume import run_resumable

        ctx = self.ctx
        self.resume_source, self.out_dir = f"{ctx.work}/pages_resume", f"{ctx.work}/out"
        write_pages(self.resume_source, ctx.size["resume_pages"], ctx.seed, ctx.nproc)
        ctx.require_cold("first commit")
        with tr.span("plans.resume", "run_resumable") as first:
            metas = run_resumable(self.pages(self.resume_source), ctx.spark, self.out_dir,
                                  n_buckets=N_BUCKETS)
        # run_resumable keeps its lines cache and hands the caller no
        # handle: report the leak, then drop it
        m = {"plans.extract.persisted_after": persisted_rdds(ctx.spark)}
        release_caches(ctx.spark)
        files = glob.glob(f"{self.out_dir}/url_bucket=*/*.parquet")
        landed = sum(meta["n_docs"] for meta in metas)
        land = metas[0]["wall_sec"] if metas else 0.0
        m["plans.resume.land_s"] = land
        m["plans.resume.audit_publish_s"] = first["end"] - first["start"] - land
        m["plans.resume.files_written"] = len(files)
        m["plans.resume.bytes_per_doc"] = (
            sum(map(os.path.getsize, files)) / max(landed, 1))
        self.first_commit = m
        return first["end"] - first["start"]

    def traced(self, tr) -> dict[str, float]:
        """The extraction layers as for words_flagship, then the rest of
        the resume layer: the loss of a seed-chosen half of the first
        commit's markers and the resume filter, which selects the pages
        run_resumable would process again. (The resumed run itself is
        left out: it would take this run past its time limit.)"""
        from pdf_plumber_util_spark.plans.resume import SIDECAR, resume_filter

        m = super().traced(tr)
        m["plans.extract.persisted_after"] = max(
            m["plans.extract.persisted_after"],
            self.first_commit.pop("plans.extract.persisted_after"))
        m.update(self.first_commit)
        ctx, out_dir = self.ctx, self.out_dir
        # the oracle is needed, so the first commit is checked only now
        m["plans.resume.markers_published"] = self._check_landed("first commit", out_dir)
        lost_docs = self._lose_half(out_dir)
        obs = Observation()
        with tr.span("plans.resume", "resume_filter") as filt:
            resume_filter(self.pages(self.resume_source), ctx.spark, f"{out_dir}/{SIDECAR}",
                          N_BUCKETS).observe(obs, F.count(F.lit(1)).alias("n")) \
                .write.format("noop").mode("overwrite").save()
        m["plans.resume.filter_s"] = filt["end"] - filt["start"]
        m["plans.resume.redo_ratio"] = obs.get["n"] / max(lost_docs, 1)
        return m

    def _chain(self, step, cfg, keep):
        _extraction_chain(self.pages(), step, cfg, keep)
        _analysis_chain(step, cfg, keep, self.doc_stats)

    def _final(self, keep):
        return keep["body"].join(keep["bounds"], "url", "left").join(
            keep["doc_stats"].drop("doc_bottom"), "url", "left")


WORKLOADS = {"html_extract": HtmlExtract, "words_flagship": WordsFlagship}
