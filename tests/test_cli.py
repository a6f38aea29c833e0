"""CLI parity smoke tests (extract / analyze / process / scan) on a tiny
synthetic corpus — each subcommand composes the tested plans, so these
assert wiring + artifacts, not semantics (covered by the oracle suite)."""

import json
import os

from pyspark.sql import functions as F

from pdf_plumber_util_spark import cli
from pdf_plumber_util_spark.sources.pages import synth_pages


def _write_pages(spark, tmp_path, n=6):
    path = str(tmp_path / "pages")
    synth_pages(spark, n).write.mode("overwrite").parquet(path)
    return path


def test_cli_extract_analyze_scan_roundtrip(spark, tmp_path, capsys):
    pages = _write_pages(spark, tmp_path)
    out = str(tmp_path / "out")

    assert cli.main(["extract", "--input", pages, "--output", out,
                     "--cores", "8", "--profile", "technical"]) == 0
    arts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    lines_dir = arts["lines"]
    assert spark.read.parquet(lines_dir).count() > 0
    assert spark.read.parquet(arts["info"]).count() == 6

    assert cli.main(["analyze", "--lines", lines_dir, "--output", out,
                     "--cores", "8"]) == 0
    arts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert spark.read.parquet(arts["rules"]).count() > 0
    report = open(arts["report"]).read()
    assert "Contextual spacing rules" in report and "Content window" in report
    # analyze honours its config: the boilerplate join needs the per-line
    # link counts that only `extract --drop-boilerplate` writes
    assert cli.main(["analyze", "--lines", lines_dir, "--output", out,
                     "--drop-boilerplate", "--cores", "8"]) == 2
    assert "line_link_chars" in capsys.readouterr().err

    assert cli.main(["scan", "--lines", lines_dir, "--output", out,
                     "--pattern-set", "section_patterns", "--cores", "8"]) == 0
    arts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert os.path.isdir(arts["matches"])
    assert spark.read.parquet(arts["stats"]).columns  # stage written


def test_cli_process(spark, tmp_path, capsys):
    from pdf_plumber_util_spark.contract import clear_shared_lines

    pages = _write_pages(spark, tmp_path)
    out = str(tmp_path / "out2")
    clear_shared_lines()
    spark.catalog.clearCache()
    assert cli.main(["process", "--input", pages, "--output", out,
                     "--cores", "8"]) == 0
    # process owns the lines cache of its extraction and releases it
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    arts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert arts["docs"] == 6
    body = spark.read.parquet(arts["body"])
    rows = body.collect()
    assert all(r["chars_extracted"] > 0 for r in rows)


def test_cli_page_range_and_bad_profile(spark, tmp_path, capsys):
    import pytest

    pages = _write_pages(spark, tmp_path)
    out = str(tmp_path / "out3")
    assert cli.main(["extract", "--input", pages, "--output", out,
                     "--page-range", "1", "--cores", "8"]) == 0
    arts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    pgs = spark.read.parquet(arts["lines"]).select("page").distinct().collect()
    assert [r["page"] for r in pgs] == [1]
    with pytest.raises(SystemExit):
        cli.main(["extract", "--input", pages, "--output", out,
                  "--profile", "nope"])


def test_cli_dedup(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "outd")
    assert cli.main(["dedup", "--input", f"{sf_dir}/documents.parquet",
                     "--output", out, "--method", "exact",
                     "--cores", "8"]) == 0
    arts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert arts["docs"] > 0 and arts["clusters"] <= arts["docs"]
    m = spark.read.parquet(arts["map"])
    assert {"doc_id", "canonical_id", "is_duplicate"} <= set(m.columns)

    assert cli.main(["dedup", "--input", f"{sf_dir}/documents.parquet",
                     "--output", out, "--method", "neardup",
                     "--basename", "near", "--cores", "8"]) == 0
    arts2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert arts2["docs"] == arts["docs"]
    # near-dup can only merge more than exact md5 identity
    assert arts2["clusters"] <= arts["clusters"]


def test_cli_curate(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "outc")
    docs = f"{sf_dir}/documents.parquet"
    assert cli.main(["curate", "--input", docs, "--output", out,
                     "--min-words", "5", "--mix-rates", '{"en": 0.5}',
                     "--cores", "8"]) == 0
    funnel = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel["docs"] > 0
    assert funnel["kept"] <= min(funnel["quality_pass"], funnel["unique"])
    assert funnel["clean"] == funnel["docs"]  # no eval set given
    t = spark.read.parquet(funnel["curated"])
    assert {"doc_id", "keep", "quality_keep", "repetition_keep",
            "is_duplicate", "is_contaminated", "text",
            "n_pii_redactions"} <= set(t.columns)
    assert t.count() == funnel["docs"]

    # self-decontamination: using the corpus as its own eval set must
    # flag every doc long enough to carry the n-gram
    assert cli.main(["curate", "--input", docs, "--output", out,
                     "--basename", "selfdecon", "--min-words", "5",
                     "--eval-input", docs, "--decontaminate-ngram", "30",
                     "--cores", "8"]) == 0
    f2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert f2["clean"] < f2["docs"]
    assert f2["kept"] <= f2["clean"]


def test_cli_curate_block_domains(spark, tmp_path, capsys):
    docs_path = str(tmp_path / "docs_with_urls")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today",
             "en", "https://spam.ads.net/x"),
            (2, "a completely different sentence with many fine words here",
             "en", "https://good.example.org/y"),
        ],
        "doc_id long, text string, lang string, url string",
    ).write.parquet(docs_path)
    out = str(tmp_path / "outd")
    assert cli.main(["curate", "--input", docs_path, "--output", out,
                     "--basename", "bd", "--min-words", "5",
                     "--block-domains", "ads.net", "--cores", "4"]) == 0
    funnel = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel["docs"] == 2 and funnel["domain_pass"] == 1
    rows = {r.doc_id: r for r in
            spark.read.parquet(funnel["curated"]).collect()}
    assert not rows[1].domain_keep and not rows[1].keep
    assert rows[2].domain_keep


def test_cli_curate_dup_span_gate(spark, tmp_path, capsys):
    docs_path = str(tmp_path / "docs_spans")
    run = " ".join(f"w{i}" for i in range(25))
    spark.createDataFrame(
        [
            (1, run, "en"),                                    # first owner
            (2, run + " extra tail words here", "en"),         # heavy copy
            (3, " ".join(f"u{i}" for i in range(25)), "en"),   # unique
        ],
        "doc_id long, text string, lang string",
    ).write.parquet(docs_path)
    out = str(tmp_path / "outs")
    assert cli.main(["curate", "--input", docs_path, "--output", out,
                     "--basename", "sp", "--min-words", "5",
                     "--max-dup-span-frac", "0.5", "--span-words", "10",
                     "--span-stride", "1", "--cores", "4"]) == 0
    funnel = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel["docs"] == 3 and funnel["span_pass"] == 2
    rows = {r.doc_id: r for r in
            spark.read.parquet(funnel["curated"]).collect()}
    assert rows[1].span_keep          # global first occurrence
    assert not rows[2].span_keep      # copy: coverage > 0.5
    assert rows[3].span_keep


def test_cli_curate_perplexity_bucket(spark, tmp_path, capsys):
    """--perplexity-bucket drops the tail tertile: six docs of corpus-
    typical text sit at one (low) perplexity, three rare-token docs sit
    strictly above it, so the 2/3 cutoff lands on the common value and
    exactly the rare docs fail the gate."""
    docs_path = str(tmp_path / "docs_ppl")
    common = "the quick brown fox jumps over the lazy dog again and again"
    rows_in = [(i, common, "en") for i in range(1, 7)] + [
        (7, "zyx wvu tsr qpo nml kji hgf edc baz", "en"),
        (8, "qqa qqb qqc qqd qqe qqf qqg qqh qqi", "en"),
        (9, "vrk vrl vrm vrn vro vrp vrq vrr vrs", "en"),
    ]
    spark.createDataFrame(
        rows_in, "doc_id long, text string, lang string"
    ).write.parquet(docs_path)
    out = str(tmp_path / "outp")
    assert cli.main(["curate", "--input", docs_path, "--output", out,
                     "--basename", "pp", "--min-words", "5",
                     "--perplexity-bucket", "--cores", "4"]) == 0
    funnel = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel["docs"] == 9 and funnel["perplexity_pass"] == 6
    rows = {r.doc_id: r for r in
            spark.read.parquet(funnel["curated"]).collect()}
    for i in range(1, 7):
        assert rows[i].perplexity_keep
    for i in (7, 8, 9):
        assert not rows[i].perplexity_keep and not rows[i].keep


def test_cli_curate_quality_model(spark, tmp_path, capsys):
    """--quality-model: the fastText-style linear classifier gate drops
    docs scoring below the threshold; every other doc passes."""
    docs_path = str(tmp_path / "docs_qm")
    good = "signal " * 8   # weight +1 per token -> sigmoid(1) ~ 0.73
    bad = "noise " * 8     # weight -1 per token -> sigmoid(-1) ~ 0.27
    spark.createDataFrame(
        [(1, good), (2, bad), (3, "neutral words only here " * 2)],
        "doc_id long, text string",
    ).write.parquet(docs_path)
    model_path = str(tmp_path / "model_qm")
    spark.createDataFrame(
        [("signal", 1.0), ("noise", -1.0)], "word string, weight double"
    ).write.parquet(model_path)
    out = str(tmp_path / "outq")
    assert cli.main(["curate", "--input", docs_path, "--output", out,
                     "--basename", "qm", "--min-words", "5",
                     "--quality-model", model_path, "--cores", "4"]) == 0
    funnel = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel["docs"] == 3 and funnel["classifier_pass"] == 2
    rows = {r.doc_id: r for r in
            spark.read.parquet(funnel["curated"]).collect()}
    assert rows[1].classifier_keep
    assert not rows[2].classifier_keep and not rows[2].keep
    assert rows[3].classifier_keep  # all-OOV doc scores sigmoid(0) = 0.5


def test_cli_index_then_curate_dedup_index(spark, tmp_path, capsys):
    """index -> curate --dedup-index: the snapshot-N+1 flow. Docs whose
    fingerprint is in the prior index are dropped as duplicates; --merge
    extends an index idempotently."""
    prior_path = str(tmp_path / "prior_docs")
    spark.createDataFrame(
        [(100, "seen before page " * 3), (101, "other old page " * 3)],
        "doc_id long, text string",
    ).write.parquet(prior_path)
    out = str(tmp_path / "outix")
    assert cli.main(["index", "--input", prior_path, "--output", out,
                     "--basename", "snap0", "--cores", "4"]) == 0
    ix = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ix["fingerprints"] == 2

    new_path = str(tmp_path / "new_docs")
    spark.createDataFrame(
        [(1, "SEEN  before page " * 3),        # normalizes into the index
         (2, "genuinely new content here " * 3),
         (3, "genuinely new content here " * 3)],  # within-batch dup of 2
        "doc_id long, text string",
    ).write.parquet(new_path)
    assert cli.main(["curate", "--input", new_path, "--output", out,
                     "--basename", "snap1", "--min-words", "3",
                     "--dedup-index", ix["index"], "--cores", "4"]) == 0
    funnel = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel["docs"] == 3 and funnel["unique"] == 1
    rows = {r.doc_id: r for r in
            spark.read.parquet(funnel["curated"]).collect()}
    assert rows[1].is_duplicate and rows[3].is_duplicate
    assert not rows[2].is_duplicate

    # --merge refresh: index now also covers the kept new doc
    assert cli.main(["index", "--input", new_path, "--output", out,
                     "--basename", "snap1ix", "--merge", ix["index"],
                     "--cores", "4"]) == 0
    ix2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # 2 prior + 1 genuinely new; the re-crawled page and the within-batch
    # dup collapse into existing fingerprints
    assert ix2["fingerprints"] == 3


def test_cli_train_model_and_curate_with_it(spark, tmp_path, capsys):
    """Round-5 train->score round trip at the CLI level: train-model on
    a separable labeled corpus, then curate --quality-model with the
    artifact — the classifier gate must keep the good docs and drop the
    spam ones."""
    good = ("thorough analysis of the measured results and their "
            "careful discussion with full methodology details included")
    spam = ("buy cheap pills now click here free offer winner "
            "prize claim your money fast easy guaranteed")
    rows = [
        (i, (good if i % 2 == 0 else spam) + f" filler{i}", i % 2 == 0)
        for i in range(20)
    ]
    labeled = str(tmp_path / "labeled")
    spark.createDataFrame(
        rows, "doc_id long, text string, label boolean"
    ).write.parquet(labeled)
    out = str(tmp_path / "outm")
    assert cli.main(["train-model", "--input", labeled, "--output", out,
                     "--basename", "m", "--steps", "10", "--lr", "5.0",
                     "--cores", "8"]) == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["vocab"] > 0
    model = spark.read.parquet(info["model"])
    assert set(model.columns) == {"word", "weight"}
    assert model.count() == info["vocab"]

    assert cli.main(["curate", "--input", labeled, "--output", out,
                     "--basename", "scored", "--min-words", "5",
                     "--quality-model", info["model"],
                     "--cores", "8"]) == 0
    funnel = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel["classifier_pass"] == 10  # exactly the good half
    curated = spark.read.parquet(funnel["curated"])
    kept_ids = {r["doc_id"] for r in curated.filter("classifier_keep").collect()}
    assert kept_ids == {i for i in range(20) if i % 2 == 0}


def test_cli_curate_dedup_report(spark, tmp_path, capsys):
    """--dedup-report writes the consolidated per-doc verdict table next
    to the curated corpus, with sane action counts."""
    base = " ".join(f"tok{i:02d}" for i in range(60))
    clean = " ".join(f"uniq{i:02d}" for i in range(60))
    docs_path = str(tmp_path / "docs_rep")
    spark.createDataFrame(
        [(0, base, "en"), (1, base, "en"), (2, clean, "en")],
        "doc_id long, text string, lang string",
    ).write.parquet(docs_path)
    out = str(tmp_path / "outrep")
    assert cli.main(["curate", "--input", docs_path, "--output", out,
                     "--basename", "rep", "--min-words", "5",
                     "--dedup-report", "--cores", "8"]) == 0
    funnel = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel["dedup_actions"].get("drop_exact") == 1
    rep = spark.read.parquet(funnel["dedup_report"])
    assert rep.count() == 3
    assert {"doc_id", "exact_canonical_id", "is_exact_dup",
            "near_canonical_id", "is_near_dup", "dup_token_frac",
            "action"} == set(rep.columns)


def test_cli_index_merge_equals_destination_rejected(spark, sf_dir,
                                                     tmp_path, capsys):
    """In-place index refresh (merge path == output path) must be
    rejected up front, not corrupt the index (ADVICE r4)."""
    docs = f"{sf_dir}/documents.parquet"
    out = str(tmp_path / "outidx")
    assert cli.main(["index", "--input", docs, "--output", out,
                     "--basename", "i", "--cores", "8"]) == 0
    idx = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert cli.main(["index", "--input", docs, "--output", out,
                     "--basename", "i", "--merge", idx["index"],
                     "--cores", "8"]) == 2
    # the existing index is untouched
    assert spark.read.parquet(idx["index"]).count() == idx["fingerprints"]


def test_cli_shards_layout_and_summary(spark, tmp_path, capsys):
    """Round-5 shards subcommand: deterministic shard layout written
    partitioned-by-shard, per-shard summary totals consistent, and the
    on-disk assignment identical to the operator's plan."""
    import hashlib

    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"text for document {i}", 10 + i) for i in range(60)],
        "doc_id long, text string, n_chars long",
    ).write.parquet(docs_path)
    out = str(tmp_path / "outs")
    assert cli.main(["shards", "--input", docs_path, "--output", out,
                     "--basename", "d", "--n-shards", "4",
                     "--cores", "8"]) == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["n_shards"] == 4
    assert sum(s["n_docs"] for s in info["per_shard"]) == 60
    written = spark.read.parquet(info["shards"]).toPandas()
    assert len(written) == 60
    for r in written.itertuples():
        key = hashlib.md5(f"shard1:{r.doc_id}".encode()).hexdigest()
        assert r.sort_key == key and r.shard == int(key[:8], 16) % 4
    for shard, g in written.groupby("shard"):
        assert sorted(g["pos"]) == list(range(1, len(g) + 1))

    # a --token-col the input lacks is an error naming the column, not a
    # silent 0-token layout
    assert cli.main(["shards", "--input", docs_path, "--output", out,
                     "--basename", "e", "--n-shards", "4",
                     "--token-col", "n_tokens", "--cores", "8"]) == 2
    err = capsys.readouterr().err
    assert "'n_tokens'" in err and "n_chars" in err
    assert not os.path.exists(os.path.join(out, "e_shards"))
