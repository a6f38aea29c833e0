"""End-to-end extraction plans (the reference's extract/analyze/process CLI
paths, SURVEY.md §3, re-expressed as one Spark job).

This is the only module that composes the extraction layers. Two
functions hold the chain, and every caller (extract_lines,
extract_documents, the contract queries, the CLI) builds on them:

  * ``lines_from_words(words, cfg)``: C1 window line ids -> segments ->
    lines -> blank filter. Returns the lines and the segments.
  * ``documents_from_lines(flines, cfg)``: spacing rules -> blocks ->
    header/footer candidates -> doc-level aggregate -> boundaries -> the
    opt-in boilerplate join -> body. Returns ``Documents``: rules,
    blocks, doc metrics, bounds and body; each caller selects from it.

Partitioning is the caller's choice: neither function repartitions, and
the output does not depend on the shape the caller picks
(tests/test_plan_shape.py):
  * html (extract_lines, extract_documents) is url-first: ONE data-sized
    shuffle, the word stream hash-partitioned by **url** right after the
    map-side scan + tokenizer UDF. Every downstream key carries the url
    prefix, so with `requireAllClusterKeysForCoPartition=false` (session
    default) nothing below the word exchange shuffles again: windows,
    segment/line aggregates, the lines<->rules join, block windows,
    boundary voting and body assembly all reuse it. Measured at 8000
    html docs / local[32]: 14.9s -> 12.7s vs a (url, page)-keyed word
    exchange, and at cluster scale it removes two corpus-sized shuffles.
  * the contract (contract._lines_df) is two-level: words keyed on (url,
    page) by the C1 window's own exchange, then the lines re-keyed to url
    before the persist. Its few giant multi-page documents would cap a
    url-first word stage at the url count (measured reasons in
    _lines_df's comment).
  Picking one shape for both needs per-layer measurements at both
  document mixes.

Scale notes:
  * Spark 4: Generate (posexplode) and FlatMapGroupsInPandas both erase
    outputPartitioning, so pre-repartitioning pages buys nothing; the C1
    window variant (no Python stage) is the default, and the exact-anchor
    applyInPandas variant remains for pathological drift.
  * Skew: the unit of sequential work is one document (url-hash
    partitioning spreads hosts; partition_pages adds explicit salting
    for adversarial hosts upstream of the tokenizer). A giant single
    document concentrates its window work in one task — inherent to
    emitting one body string per url — and is bounded by the
    max_body_chars cap in body assembly (two-level page-then-doc
    aggregation keeps per-buffer sizes page-bounded).
  * Doc-level aggregates are tiny per url and joined back on (url, ...) —
    co-partitioned joins, no broadcast needed.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..functions.text import py_strip
from ..operators.blocks import form_blocks
from ..operators.boundaries import (
    body_text,
    final_boundaries,
    header_footer_candidates,
)
from ..operators.lines import (
    assemble_lines,
    assign_line_ids_window,
    build_segments,
    drop_blank_lines,
)
from ..operators.spacing import contextual_spacing_rules
from ..sources.tokenizer import page_dims, tokenize_pages


def partition_pages(pages: DataFrame, num_partitions: int | None = None,
                    salt_hot_hosts: bool = True, salt: str = "s1") -> DataFrame:
    """Balance the tokenizer stage: repartition pages by a salted url hash.

    What this buys (and doesn't): mapInPandas erases output partitioning
    in Spark 4, so this exchange can NOT feed the downstream windows —
    the C1 window always inserts its own (url, page) exchange. Its sole
    job is input balance for the most expensive stage (the pandas/Arrow
    tokenizer): a source whose files cluster a hot host's urls (the
    north-rule skew case — crawl dumps are host-ordered) would otherwise
    hand whole hosts to single tasks. Salting the hash term means even
    adversarial url sets that collide on xxhash64(url) spread; the unit of
    sequential work stays one document, which a salt cannot split.

    Because it shuffles the html payload, it is OPT-IN (pass
    num_partitions in extract_lines/extract_documents); well-bucketed
    Iceberg inputs should skip it.
    """
    key = F.xxhash64("url", F.lit(salt)) if salt_hot_hosts else F.xxhash64("url")
    if num_partitions:
        return pages.repartition(num_partitions, key)
    return pages.repartition(key)


def extract_lines(pages: DataFrame, cfg: EngineConfig = DEFAULT,
                  num_partitions: int | None = None) -> DataFrame:
    """pages -> blank-filtered line records (the `_lines.json` analog).

    num_partitions: opt-in salted input rebalance (see partition_pages)."""
    if num_partitions:
        pages = partition_pages(pages, num_partitions)
    lines, _ = lines_from_words(tokenize_pages(pages).repartition(F.col("url")), cfg)
    return lines


def lines_from_words(words: DataFrame, cfg: EngineConfig = DEFAULT,
                     include_proportional: bool = True) -> tuple[DataFrame, DataFrame]:
    """words -> (blank-filtered lines, segments): the C1 window line ids,
    segment runs, line assembly and the blank-line filter. Keeps the
    partitioning of ``words`` (module docstring).

    Under ``cfg.drop_boilerplate`` the per-line char/link/word counts ride
    the segment and line aggregates (three extra sums, zero added
    shuffles or word passes) into the lines, where the boilerplate
    classifier reads them; words without ``is_link`` count no link chars.
    """
    wl = assign_line_ids_window(words, cfg.y_tolerance)
    if cfg.drop_boilerplate and "is_link" not in wl.columns:
        wl = wl.withColumn("is_link", F.lit(False))
    segs = build_segments(wl, with_link_stats=cfg.drop_boilerplate)
    lines = assemble_lines(wl, segs, page_dims(words),
                           include_proportional=include_proportional)
    return drop_blank_lines(lines), segs


class Documents(NamedTuple):
    """documents_from_lines' outputs."""

    rules: DataFrame  # contextual_spacing_rules
    blocks: DataFrame  # form_blocks (+ _boilerplate under drop_boilerplate)
    doc_metrics: DataFrame  # url, doc_bottom, n_lines, n_pages
    bounds: DataFrame  # url, header_bottom, footer_top
    body: DataFrame  # body_text: url, body_text and its block/char counts


def documents_from_lines(flines: DataFrame, cfg: EngineConfig = DEFAULT) -> Documents:
    """Blank-filtered lines -> rules -> blocks -> header/footer candidates
    -> boundaries -> body (the reference's analyze + process tail). Every
    key carries the url prefix, so over url-partitioned lines the tail
    adds no exchange. ``flines`` is read several times: persist it first
    when it is computed."""
    rules = contextual_spacing_rules(
        flines,
        gap_rounding=cfg.gap_rounding,
        lo_mult=cfg.line_spacing_lo_mult,
        hi_mult=cfg.line_spacing_hi_mult,
        para_mult=cfg.para_spacing_mult,
    )
    blocks = form_blocks(flines, rules)
    cands = header_footer_candidates(
        flines,
        header_zone_pt=cfg.header_zone_pt,
        footer_zone_in=cfg.footer_zone_inches,
        large_mult=cfg.large_gap_mult,
    )
    # one doc-level aggregation serves the boundary default AND the
    # north-rule parse metrics (callers that select only the bounds get
    # the unused aggregates pruned)
    doc_metrics = flines.groupBy("url").agg(
        F.max(F.col("bbox")["bottom"]).alias("doc_bottom"),
        F.count("*").alias("n_lines"),
        F.countDistinct("page").alias("n_pages"),
    )
    bounds = final_boundaries(cands, doc_metrics.select("url", "doc_bottom"))
    if cfg.drop_boilerplate:
        from ..operators.webtext import block_boilerplate

        # flines carries the line_link_stats columns (lines_from_words),
        # so no word re-derivation happens here
        bp = block_boilerplate(
            None, flines, blocks,
            max_link_density=cfg.max_link_density,
            min_text_density=cfg.min_text_density,
        )
        blocks = blocks.join(
            bp.select(
                "url", "page", "block_id",
                F.col("is_boilerplate").alias("_boilerplate"),
            ),
            ["url", "page", "block_id"],
            "left",
        )
    body = body_text(blocks, bounds, max_body_chars=cfg.max_body_chars)
    return Documents(rules, blocks, doc_metrics, bounds, body)


def doc_stats(lines: DataFrame, segments: DataFrame) -> DataFrame:
    """A3 (analyzer.py:1369-1426): per-doc font/size histogram modes over
    segments of valid lines; sizes re-rounded to 0.5."""
    from ..functions.rounding import round_to_nearest

    valid = lines.filter(
        (F.col("bbox")["bottom"] > F.col("bbox")["top"])
        & (py_strip(F.col("text")) != "")
    ).select("url", "page", "line_id")
    segs = segments.join(valid, ["url", "page", "line_id"], "leftsemi")
    # first-seen tie-break in document order (page, line_id, seg_id)
    sized = segs.filter(F.col("rounded_size").isNotNull()).withColumn(
        "_size", round_to_nearest(F.col("rounded_size"), 0.5)
    )
    neg_pos = [(-F.col("page")).alias("p"), (-F.col("line_id")).alias("l"),
               (-F.col("seg_id")).alias("s")]
    fonts = sized.groupBy("url", "font").agg(
        F.count("*").alias("cnt"),
        F.max(F.struct(*neg_pos)).alias("fs"),
    )
    sizes = sized.groupBy("url", "_size").agg(
        F.count("*").alias("cnt"),
        F.max(F.struct(*neg_pos)).alias("fs"),
    )
    mf = fonts.groupBy("url").agg(
        F.max_by("font", F.struct("cnt", "fs")).alias("most_common_font"),
        F.sum("cnt").alias("total_segments"),
    )
    ms = sizes.groupBy("url").agg(
        F.max_by("_size", F.struct("cnt", "fs")).alias("most_common_size")
    )
    return mf.join(ms, "url", "left")


def extract_documents(pages: DataFrame, cfg: EngineConfig = DEFAULT,
                      num_partitions: int | None = None,
                      cache_handle: list | None = None) -> DataFrame:
    """Flagship: pages -> (url, body_text, metrics). The full `process`
    path: extract -> rules -> blocks -> boundaries -> main content.

    num_partitions: opt-in salted input rebalance (see partition_pages).
    cache_handle: the plan persists its lines (the reference's
    _lines.json checkpoint; the tail reads them several times) and
    appends that cache to this list. The caller owns it: unpersist it
    once the returned frame has been written. Without a handle the cache
    lives until the session ends, and a later call over the same input
    silently reuses it."""
    if num_partitions:
        pages = partition_pages(pages, num_partitions)
    # proportional columns pruned at the source: nothing downstream of
    # the process path reads them, and persist() would otherwise force
    # their computation (Catalyst cannot prune through a cache)
    flines, _ = lines_from_words(tokenize_pages(pages).repartition(F.col("url")), cfg,
                                 include_proportional=False)
    flines = flines.persist()
    if cache_handle is not None:
        cache_handle.append(flines)
    docs = documents_from_lines(flines, cfg)
    return docs.body.join(docs.bounds, "url", "left").join(
        docs.doc_metrics.drop("doc_bottom"), "url", "left"
    )
