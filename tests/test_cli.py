"""CLI surface tests (reference Program.cs flows E1/E2/E3)."""

from __future__ import annotations

import json
import sqlite3

import pytest

from dataingestionplayground_spark import cli


@pytest.fixture()
def cms_db(tmp_path):
    db = tmp_path / "CMS.DB"
    con = sqlite3.connect(db)
    con.execute(
        'CREATE TABLE "Items" ("Id" INTEGER PRIMARY KEY AUTOINCREMENT,'
        ' "Title" TEXT NOT NULL, "Body" TEXT NOT NULL)'
    )
    con.execute(
        'INSERT INTO "Items" ("Title", "Body") VALUES (?, ?)',
        ("Databases", "A database is an organized collection of data.\n\nManaged by a DBMS."),
    )
    con.commit()
    con.close()
    return str(db)


def test_cli_ingest_list_search_roundtrip(spark, cms_db, tmp_path, capsys):
    store = str(tmp_path / "store")
    rc = cli.main(
        ["ingest", "--reader", "database", "--source", cms_db, "--collection", "docs",
         "--store", store]
    )
    out = capsys.readouterr().out
    assert rc == 0 and "Article #1: SUCCESS" in out

    rc = cli.main(["list", "--store", store])
    assert rc == 0 and capsys.readouterr().out.strip() == "docs"

    rc = cli.main(
        ["search", "--collection", "docs", "--store", store,
         "--query", "organized collection of data", "--top-k", "1"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "documentid=Article #1" in out and "context: Databases" in out


def test_cli_config_defaults(spark, cms_db, tmp_path, capsys):
    cfg = tmp_path / "appsettings.json"
    cfg.write_text(json.dumps({
        "store_path": str(tmp_path / "store2"),
        "collection": "cfgcoll",
        "database_source": cms_db,
    }))
    rc = cli.main(["--config", str(cfg), "ingest", "--reader", "database"])
    assert rc == 0 and "SUCCESS" in capsys.readouterr().out
    cli.main(["--config", str(cfg), "list"])
    assert capsys.readouterr().out.strip() == "cfgcoll"


def test_cli_unknown_reader_rejected():
    with pytest.raises(SystemExit):
        cli.main(["ingest", "--reader", "nope"])


def test_cli_jsonl_and_csv_readers(spark, tmp_path, capsys):
    import json as _json

    jl = tmp_path / "corpus.jsonl"
    jl.write_text(
        _json.dumps({"doc_id": "j1", "text": "jsonl document about databases"}) + "\n"
        + _json.dumps({"doc_id": "j2", "text": ""}) + "\n"  # empty -> FAILURE
    )
    store = str(tmp_path / "store")
    rc = cli.main(["ingest", "--reader", "jsonl", "--source", str(jl),
                   "--collection", "jd", "--store", store])
    out = capsys.readouterr().out
    assert "j1: SUCCESS" in out and "j2: FAILURE" in out and rc == 1

    cs = tmp_path / "corpus.csv"
    cs.write_text('doc_id,text\nc1,"csv document about spark engines"\n')
    rc = cli.main(["ingest", "--reader", "csv", "--source", str(cs),
                   "--collection", "cd", "--store", store])
    assert "c1: SUCCESS" in capsys.readouterr().out and rc == 0

    rc = cli.main(["search", "--collection", "jd", "--store", store,
                   "--query", "databases", "--top-k", "1"])
    assert "documentid=j1" in capsys.readouterr().out


def test_cli_info(spark, cms_db, tmp_path, capsys):
    store = str(tmp_path / "store")
    cli.main(["ingest", "--reader", "database", "--source", cms_db,
              "--collection", "docs", "--store", store])
    capsys.readouterr()
    rc = cli.main(["info", "--collection", "docs", "--store", store])
    out = capsys.readouterr().out
    assert rc == 0 and "documents:  1" in out and "dims:       384" in out
    assert cli.main(["info", "--collection", "nope", "--store", store]) == 2


# Jobs the dedup run below starts, keep/drop table write included,
# counted with getJobIdsForGroup in this test's session (local[8], AQE
# on): 21 with the reassembled docs and the candidate pairs each cached
# and counted in the job that computes them and the clusters labelled
# with one exchange; 25 when each cache was built by a query and counted
# by a noop write reading it back, and the labels were a left join; 27
# when each was persisted and then counted.
DEDUP_JOB_BOUND = 21


def test_cli_dedup_report(spark, tmp_path, capsys):
    # two identical docs + one distinct -> exact-unique 2, kept 2
    src = tmp_path / "md"
    src.mkdir()
    body = "# T\n\nthe quick brown fox jumps over the lazy dog again and again"
    (src / "a.md").write_text(body)
    (src / "b.md").write_text(body)
    (src / "c.md").write_text("# U\n\ncompletely different words about spark engines here")
    store = str(tmp_path / "store")
    assert cli.main(["ingest", "--reader", "markdown", "--collection", "dd",
                     "--source", str(src), "--store", store]) == 0
    capsys.readouterr()
    out_pq = str(tmp_path / "keep.parquet")
    sc = spark.sparkContext
    persisted = set(sc._jsc.getPersistentRDDs().keys())
    group = "test-cli-dedup-jobs"
    sc.setJobGroup(group, group)
    try:
        rc = cli.main(["dedup", "--collection", "dd", "--store", store, "--out", out_pq])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rc == 0
    # everything the command cached or checkpointed is released on return
    assert set(sc._jsc.getPersistentRDDs().keys()) == persisted
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= DEDUP_JOB_BOUND, n_jobs
    out = capsys.readouterr().out
    assert "documents:        3" in out
    assert "exact-unique:     2" in out
    assert "kept after dedup: 2" in out
    kept = {r.documentid: r.is_kept for r in spark.read.parquet(out_pq).collect()}
    assert sum(kept.values()) == 2
    # unknown collection -> error exit
    assert cli.main(["dedup", "--collection", "nope", "--store", store]) == 2


def test_cli_export_jsonl(spark, tmp_path, capsys):
    import json
    import os

    src = tmp_path / "md"
    src.mkdir()
    (src / "a.md").write_text("# A\n\nalpha beta gamma delta epsilon")
    (src / "b.md").write_text("# B\n\nzeta eta theta iota kappa")
    store = str(tmp_path / "store")
    assert cli.main(["ingest", "--reader", "markdown", "--collection", "ex",
                     "--source", str(src), "--store", store]) == 0
    capsys.readouterr()
    out_dir = str(tmp_path / "export")
    assert cli.main(["export", "--collection", "ex", "--store", store,
                     "--out", out_dir, "--shards", "2"]) == 0
    out = capsys.readouterr().out
    assert "wrote 2 docs" in out
    manifest = json.load(open(os.path.join(out_dir, "_MANIFEST.json")))
    assert manifest["total_rows"] == 2
    back = spark.read.json(out_dir)
    names = {r.documentid.rsplit("/", 1)[-1] for r in back.select("documentid").collect()}
    assert names == {"a.md", "b.md"}
    # unknown collection -> error exit
    assert cli.main(["export", "--collection", "nope", "--store", store,
                     "--out", str(tmp_path / "x")]) == 2


def test_cli_xml_reader(spark, tmp_path, capsys):
    src = tmp_path / "xml"
    src.mkdir()
    (src / "a.xml").write_text(
        "<docs>"
        "<article><doc_id>x1</doc_id><text>alpha beta gamma delta epsilon zeta</text></article>"
        "<article><doc_id>x2</doc_id><text>eta theta iota kappa lambda mu</text></article>"
        "</docs>"
    )
    store = str(tmp_path / "store")
    assert cli.main(["ingest", "--reader", "xml", "--collection", "xm",
                     "--source", str(src), "--store", store]) == 0
    out = capsys.readouterr().out
    assert "x1: SUCCESS" in out and "x2: SUCCESS" in out
    assert cli.main(["search", "--collection", "xm", "--store", store,
                     "--query", "alpha beta gamma", "--top-k", "1"]) == 0
    assert "x1" in capsys.readouterr().out


def _curate_fixture(tmp_path):
    """Five-doc corpus plus a one-doc eval set; returns the curate argv."""
    import json as _json

    corpus = tmp_path / "corpus.jsonl"
    boiler = "Subscribe to our newsletter today"
    rows = [
        # a and b are EXACT duplicates (caught by stage 1, so their
        # shared fox line never counts as cross-doc boilerplate)
        {"doc_id": "a", "text": f"the quick brown fox jumps over the lazy dog\n{boiler}"},
        {"doc_id": "b", "text": f"the quick brown fox jumps over the lazy dog\n{boiler}"},
        {"doc_id": "c", "text": "a completely different sentence with many common english words here"},
        # doc that is ONLY boilerplate -> dropped at stage 2
        {"doc_id": "d", "text": boiler},
        # contaminated doc: shares a trigram with the eval set
        {"doc_id": "e", "text": "this exact benchmark question appears verbatim in the eval set"},
    ]
    corpus.write_text("".join(_json.dumps(r) + "\n" for r in rows))
    ev = tmp_path / "eval.jsonl"
    ev.write_text(_json.dumps({"doc_id": "ev1", "text": "exact benchmark question appears"}) + "\n")
    return [
        "curate", "--source", str(corpus), "--out", str(tmp_path / "curated"),
        "--eval-source", str(ev), "--quality-pct", "0", "--shards", "2",
    ]


def test_cli_curate_full_funnel(spark, tmp_path, capsys):
    import json as _json
    import os

    argv = _curate_fixture(tmp_path)
    out_dir = argv[argv.index("--out") + 1]
    rc = cli.main(argv)
    out = capsys.readouterr().out
    assert rc == 0
    assert "input docs:        5" in out
    assert "after exact dedup: 4" in out   # b is an exact duplicate of a
    assert "after boilerplate: 3" in out   # shared line erased; d left empty
    assert "after quality:     3" in out   # pct=0 keeps all survivors
    assert "after decontam:    2" in out   # e shares eval trigrams
    manifest = _json.load(open(os.path.join(out_dir, "_MANIFEST.json")))
    assert manifest["total_rows"] == 2
    back = spark.read.json(out_dir)
    assert {r.doc_id for r in back.select("doc_id").collect()} == {"a", "c"}


# Jobs one curate run on the five-doc fixture starts, counted with
# getJobIdsForGroup in this test's session (local[8], AQE on), the same
# in a fresh session: 21 with each funnel stage cached and counted in
# the job that computes it, the quality threshold observed in one pass,
# the gate in-row and decontamination without distinct shuffles; 25 when
# each stage's cache was built by a query and counted by a noop write
# reading it back; 32 when each stage was cached and then counted by a
# separate action, the gate was a threshold cross join plus a semi-join
# and decontamination ran two distincts; 92 when every count, the export
# and the data card re-ran the whole funnel.
CURATE_JOB_BOUND = 21


def test_cli_curate_computes_each_stage_once(spark, tmp_path, capsys):
    sc = spark.sparkContext
    group = "test-cli-curate-jobs"
    before = set(sc._jsc.getPersistentRDDs().keys())
    sc.setJobGroup(group, group)
    try:
        rc = cli.main(_curate_fixture(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rc == 0 and "after decontam:    2" in capsys.readouterr().out
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= CURATE_JOB_BOUND, n_jobs
    # every stage the command cached is released when it returns; a subset
    # test, not equal sizes, since the ContextCleaner may free blocks of
    # earlier tests meanwhile
    assert set(sc._jsc.getPersistentRDDs().keys()) <= before


def _reference_funnel(spark, source, eval_source, pct):
    """The curate funnel computed the long way: the quality threshold
    joined back as a broadcast cross join and the gate applied as a
    semi-join on the kept ids, the eval trigrams and the contaminated ids
    each made distinct. Returns (stage counts, sorted final rows)."""
    from pyspark.sql import functions as F

    from dataingestionplayground_spark.functions import text as TX
    from dataingestionplayground_spark.operators.dedup import exact_dedup, line_dedup
    from dataingestionplayground_spark.queries.textq import quality_scores
    from dataingestionplayground_spark.sources.textfiles import read_jsonl_docs

    docs = read_jsonl_docs(spark, source).select("doc_id", F.col("content").alias("text"))
    keep = exact_dedup(docs, "doc_id", "text").select(F.col("keep_id").alias("doc_id"))
    deduped = docs.join(keep, "doc_id", "left_semi")
    cleaned = (
        line_dedup(deduped, min_df=2)
        .filter(F.col("n_lines_kept") > 0)
        .select("doc_id", F.col("clean_text").alias("text"))
    )
    scored = quality_scores(cleaned.withColumn("n_chars", F.length("text")))
    thr = scored.agg(F.expr(f"percentile(quality, {pct / 100.0})").alias("q"))
    kept_ids = (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("q"))
        .select("doc_id")
    )
    gated = cleaned.join(kept_ids, "doc_id", "left_semi")
    final = gated
    if eval_source:
        ev_grams = (
            read_jsonl_docs(spark, eval_source)
            .select(TX.tokens("content").alias("__tk"))
            .select(F.explode(F.array_distinct(TX.shingles_from_tokens("__tk", 3))).alias("g"))
            .distinct()
        )
        contaminated = (
            gated.select("doc_id", TX.tokens("text").alias("__tk"))
            .select(
                "doc_id",
                F.explode(F.array_distinct(TX.shingles_from_tokens("__tk", 3))).alias("g"),
            )
            .join(F.broadcast(ev_grams), "g")
            .select("doc_id")
            .distinct()
        )
        final = gated.join(contaminated, "doc_id", "left_anti")
    counts = [df.count() for df in (docs, deduped, cleaned, gated, final)]
    return counts, sorted((r.doc_id, r.text) for r in final.collect())


_BOILER = "Subscribe to our newsletter today"
_EDGE_CORPUS = [
    # t1 and t2 score the same (same lengths, tokens and stopwords) and
    # score highest, so at --quality-pct 100 they tie at the threshold
    {"doc_id": "t1", "text": "the cat and the dog of the town is in the house"},
    {"doc_id": "t2", "text": "the dog and the cat of the town is in the house"},
    {"doc_id": "t3", "text": "quick brown foxes jump over lazy dogs"},
    # left with a lone tab line after boilerplate removal: zero tokens
    {"doc_id": "z", "text": "\t\n" + _BOILER},
    {"doc_id": "w", "text": "words of plain filler text\n" + _BOILER},
    # exact duplicates sharing one doc_id
    {"doc_id": "dup", "text": "same id same text here again"},
    {"doc_id": "dup", "text": "same id same text here again"},
    {"doc_id": "c1", "text": "this exact benchmark question appears verbatim"},
    {"doc_id": "c2", "text": "another exact benchmark question appears too"},
    {"text": "a doc with no id at all"},
]
# both eval docs carry the trigram "exact benchmark question"
_EDGE_EVAL = [
    {"doc_id": "e1", "text": "exact benchmark question"},
    {"doc_id": "e2", "text": "the exact benchmark question again"},
]
# every doc is emptied by boilerplate removal: no score, threshold None
_ALL_BOILER = [
    {"doc_id": "b0", "text": _BOILER},
    {"doc_id": "b1", "text": _BOILER + "\n" + _BOILER},
]


@pytest.mark.parametrize(
    "corpus,pct",
    [("edge", 0), ("edge", 50), ("edge", 100), ("all_boiler", 50)],
)
def test_cli_curate_matches_reference_funnel(spark, tmp_path, capsys, corpus, pct):
    import os

    rows = {"edge": _EDGE_CORPUS, "all_boiler": _ALL_BOILER}[corpus]
    src, ev = tmp_path / "corpus.jsonl", tmp_path / "eval.jsonl"
    src.write_text("".join(json.dumps(r) + "\n" for r in rows))
    ev.write_text("".join(json.dumps(r) + "\n" for r in _EDGE_EVAL))
    out_dir = str(tmp_path / "curated")
    rc = cli.main([
        "curate", "--source", str(src), "--out", out_dir, "--eval-source", str(ev),
        "--quality-pct", str(pct), "--shards", "2",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    got = [int(line.split(":", 1)[1]) for line in out.splitlines()[:5]]
    want, want_rows = _reference_funnel(spark, str(src), str(ev), pct)
    assert got == want
    manifest = json.load(open(os.path.join(out_dir, "_MANIFEST.json")))
    assert manifest["total_rows"] == want[-1]
    back = spark.read.schema("doc_id string, text string").json(out_dir)
    assert sorted((r.doc_id, r.text) for r in back.collect()) == want_rows
    if corpus == "all_boiler":
        assert got[2:] == [0, 0, 0]
    if pct == 100:
        assert [d for d, _ in want_rows] == ["t1", "t2"]


def test_cli_sql_frontend(spark, capsys):
    rc = cli.main([
        "sql",
        "SELECT r_name, count(*) AS n FROM region GROUP BY r_name ORDER BY r_name LIMIT 2",
        "--sf-dir", "/root/testdata/sf0.001",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert out.splitlines()[0] == "r_name\tn"
    assert "(2 row(s))" in out


def test_cli_curate_without_eval_source(spark, tmp_path, capsys):
    import json as _json

    corpus = tmp_path / "c2.jsonl"
    corpus.write_text(
        _json.dumps({"doc_id": "x", "text": "one unique document with plenty of ordinary words"}) + "\n"
        + _json.dumps({"doc_id": "y", "text": "another distinct document containing different words"}) + "\n"
    )
    out_dir = str(tmp_path / "curated2")
    rc = cli.main(["curate", "--source", str(corpus), "--out", out_dir,
                   "--quality-pct", "0", "--shards", "1"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "after decontam:    2" in out  # stage skipped -> passthrough count
    assert spark.read.json(out_dir).count() == 2


# Spark jobs one `search --index ivf|pq` query runs over a current index
# (the staleness check, the search, the display join), counted in the
# test session: IVF 9, PQ 9 with the query frame a LocalRelation and each
# top-k a TakeOrdered; IVF 11, PQ 12 with an RDD-backed query frame and
# window-ranked top-k.
CLI_SEARCH_JOB_BOUND = {"ivf": 9, "pq": 9}


def test_cli_indexed_search_matches_bruteforce(spark, md_fixture_dir, tmp_path, capsys):
    """`search --index pq|ivf` must return the brute-force top-k on the
    fixture corpus (verdict r6 item 6): IVF probing every cell is exact
    by construction; the PQ path's ADC shortlist + exact rerank recovers
    the exact ranking on a corpus this size. The ensure_index front door
    builds on first use and is silent/current on the second."""
    store = str(tmp_path / "store")
    rc = cli.main(
        ["ingest", "--reader", "markdown", "--source", md_fixture_dir,
         "--collection", "docs", "--store", store]
    )
    assert rc == 0
    capsys.readouterr()

    def hits(extra):
        args = ["search", "--collection", "docs", "--store", store,
                "--query", "machine learning algorithms", "--top-k", "3"] + extra
        assert cli.main(args) == 0
        cap = capsys.readouterr()
        lines = [l for l in cap.out.splitlines() if l.startswith("score=")]
        return [l.split("documentid=")[1] for l in lines], cap.err

    def counted(extra):
        """hits() plus the Spark jobs the command ran."""
        sc = spark.sparkContext
        group = f"test-cli-search-jobs-{extra[1]}"
        sc.setJobGroup(group, group)
        try:
            out = hits(extra)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    brute, _ = hits([])
    ivf, err1 = hits(["--index", "ivf", "--n-probe", "8"])  # all cells -> exact
    assert ivf == brute
    assert "ivf index built" in err1
    (ivf2, err2), n_jobs = counted(["--index", "ivf", "--n-probe", "8"])
    assert ivf2 == brute and "built" not in err2 and "refreshed" not in err2
    assert 0 < n_jobs <= CLI_SEARCH_JOB_BOUND["ivf"], n_jobs

    pq, perr = hits(["--index", "pq"])
    assert pq == brute
    assert "pq index built" in perr
    (pq2, perr2), n_jobs = counted(["--index", "pq"])
    assert pq2 == brute and "built" not in perr2
    assert 0 < n_jobs <= CLI_SEARCH_JOB_BOUND["pq"], n_jobs

    # incremental ingest makes the index stale -> next search refreshes
    extra_dir = tmp_path / "extra_md"
    extra_dir.mkdir()
    src = sorted(__import__("pathlib").Path(md_fixture_dir).glob("*.md"))[0]
    (extra_dir / "zz-extra.md").write_text(src.read_text())
    rc = cli.main(
        ["ingest", "--reader", "markdown", "--source", str(extra_dir),
         "--collection", "docs", "--store", store, "--incremental"]
    )
    assert rc == 0
    capsys.readouterr()
    _, err3 = hits(["--index", "ivf", "--n-probe", "8"])
    assert "ivf index refreshed" in err3


def test_cli_index_lifecycle(spark, md_fixture_dir, tmp_path, capsys):
    """`index build|merge|signal|refresh|compact` — the operational
    surface of the maintained IVF index (r14): build freezes centroids,
    merge epoch-stages a chunk-batch parquet, signal prints the skew
    gate as JSON, refresh finds nothing left to reconcile, compact
    folds the epoch tags."""
    import json as _json

    from pyspark.sql import functions as F

    store = str(tmp_path / "store")
    rc = cli.main(
        ["ingest", "--reader", "markdown", "--source", md_fixture_dir,
         "--collection", "docs", "--store", store]
    )
    assert rc == 0
    capsys.readouterr()

    assert cli.main(["index", "build", "--collection", "docs", "--store", store,
                     "--cells", "4"]) == 0
    assert "built IVF index: 4 cells" in capsys.readouterr().out

    # a new document arrives; its chunks become the merge batch
    rc = cli.main(
        ["ingest", "--reader", "markdown", "--source", md_fixture_dir,
         "--collection", "docs2", "--store", store]
    )
    assert rc == 0
    capsys.readouterr()
    from dataingestionplayground_spark.ingest import CollectionStore

    st = CollectionStore(store)
    batch_path = str(tmp_path / "batch.parquet")
    (
        st.read(spark, "docs2")
        .select("key", "documentid", "embedding")
        .withColumn("documentid", F.concat(F.col("documentid"), F.lit("-inc")))
        .withColumn("key", F.concat(F.col("key"), F.lit("-inc")))
        .write.parquet(batch_path)
    )
    assert cli.main(["index", "merge", "--collection", "docs", "--store", store,
                     "--batch", batch_path, "--epoch", "3"]) == 0
    assert "merged epoch 3" in capsys.readouterr().out

    assert cli.main(["index", "signal", "--collection", "docs",
                     "--store", store]) == 0
    sig = _json.loads(capsys.readouterr().out.strip())
    assert sig["n_cells"] == 4 and sig["n_assigned"] > 0
    assert isinstance(sig["retrain"], bool)

    # the merged keys are not store chunks, so refresh treats them as
    # orphans — the reconcile path the merge contract documents
    assert cli.main(["index", "refresh", "--collection", "docs",
                     "--store", store]) == 0
    out = capsys.readouterr().out
    assert "appended=0" in out

    assert cli.main(["index", "compact", "--collection", "docs",
                     "--store", store]) == 0
    assert "compacted" in capsys.readouterr().out


def test_cli_index_pq_kind(spark, md_fixture_dir, tmp_path, capsys):
    """`index --kind pq` drives the PQ code table's build/merge/compact
    lifecycle through the CLI."""
    from pyspark.sql import functions as F

    store = str(tmp_path / "store")
    assert cli.main(
        ["ingest", "--reader", "markdown", "--source", md_fixture_dir,
         "--collection", "docs", "--store", store]
    ) == 0
    capsys.readouterr()

    assert cli.main(["index", "build", "--kind", "pq", "--collection", "docs",
                     "--store", store]) == 0
    assert "built PQ index" in capsys.readouterr().out

    from dataingestionplayground_spark.ingest import CollectionStore

    st = CollectionStore(store)
    batch_path = str(tmp_path / "pqbatch.parquet")
    (
        st.read(spark, "docs")
        .limit(3)
        .select("key", "documentid", "embedding")
        .withColumn("key", F.concat(F.col("key"), F.lit("-inc")))
        .write.parquet(batch_path)
    )
    assert cli.main(["index", "merge", "--kind", "pq", "--collection", "docs",
                     "--store", store, "--batch", batch_path, "--epoch", "2"]) == 0
    assert "3 code rows staged" in capsys.readouterr().out
    assert cli.main(["index", "compact", "--kind", "pq", "--collection", "docs",
                     "--store", store]) == 0
    assert "3 staged code rows folded" in capsys.readouterr().out
