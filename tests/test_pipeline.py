"""Golden pipeline tests (FIXTURES.md §B/§C): XML dump → typed contracts →
stage-2 filter ladder with the reference's exact tosslevel taxonomy —
1=CIN, -1=resort, 2=attachments, 3=price, 4=date, 5=duplicate
(`02_filter_by_CIN.py:270-298`), plus source/sink roundtrips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crz_scraper_spark.operators.filtering import stage2_clean, stage2_filter
from crz_scraper_spark.sources.csv import read_pipe_csv, write_pipe_csv
from crz_scraper_spark.sources.files import read_text_tree
from crz_scraper_spark.sources.xml import (
    flatten_contracts,
    read_contracts_xml,
    split_corrupt,
)

COMPANIES = ["11111111", "22222222"]
RESORTS = [["Ministerstvo vnútra"], ["Ministerstvo financií"], ["Úrad vlády"]]


def _contract_xml(
    cid: str,
    nazov: str = "Zmluva",
    dodavatel_ico: str = "11111111",
    objednavatel: str = "Ministerstvo vnútra SR",
    cena: str = "5000.0",
    datum: str = "2024-06-01 10:00:00",
    prilohy: str = "<priloha><nazov>a.pdf</nazov><subor>a.pdf</subor>"
    "<velkost>100</velkost><odkaz>https://x/a.pdf</odkaz>"
    "<datum>2024-06-01 10:00:00</datum></priloha>",
) -> str:
    return f"""<contract>
  <nazov>{nazov}</nazov><id>{cid}</id><inner_id>i{cid}</inner_id>
  <objednavatel_ico>999</objednavatel_ico>
  <objednavatel>{objednavatel}</objednavatel>
  <objednavatel_adresa>BA</objednavatel_adresa>
  <dodavatel_ico>{dodavatel_ico}</dodavatel_ico>
  <dodavatel>Firma</dodavatel><dodavatel_adresa>KE</dodavatel_adresa>
  <datum_zverejnenia>{datum}</datum_zverejnenia>
  <datum_podpisu>{datum}</datum_podpisu>
  <datum_platnosti>{datum}</datum_platnosti>
  <datum_ucinnosti>{datum}</datum_ucinnosti>
  <posledna_zmena>{datum}</posledna_zmena>
  <cena_konecna>{cena}</cena_konecna><cena_podpisana>{cena}</cena_podpisana>
  <rezort>MV</rezort><typ>Z</typ><stav>OK</stav>
  <prilohy>{prilohy}</prilohy>
</contract>"""


@pytest.fixture(scope="module")
def contracts_df(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("xml")
    cases = [
        _contract_xml("1"),  # kept
        _contract_xml("2", dodavatel_ico="99999999"),  # CIN fail -> 1
        _contract_xml("3", objednavatel="Obec Horná Dolná"),  # resort -> -1
        _contract_xml("4", prilohy=""),  # no attachments -> 2
        # CIN fail AND no attachments: attachments checked last -> reason 2
        _contract_xml("5", dodavatel_ico="99999999", prilohy=""),
        _contract_xml("6", cena="99.0"),  # below price threshold -> 3
        _contract_xml("7", cena="gibberish"),  # unparseable price -> 3
        _contract_xml("8", datum="2020-01-01 00:00:00"),  # too old -> 4
        _contract_xml("9", nazov="Dup"),  # kept (first occurrence)
        _contract_xml("9", nazov="Dup "),  # duplicate after trim -> 5
        # same (name, id) as a PRICE-REJECTED row is NOT a duplicate
        _contract_xml("6", cena="5000.0"),  # kept
    ]
    (d / "dump.xml").write_text(
        "<?xml version='1.0' encoding='UTF-8'?>\n<dump>\n"
        + "\n".join(cases)
        + "\n</dump>"
    )
    df = read_contracts_xml(spark, str(d / "dump.xml"))
    clean, corrupt = split_corrupt(df)
    assert corrupt.count() == 0
    return flatten_contracts(clean)


def test_stage2_discard_reasons(spark, contracts_df):
    out = stage2_filter(
        contracts_df,
        COMPANIES,
        RESORTS,
        price_min=1000.0,
        date_min="2024-01-01",
    )
    reasons = [
        r["discard_reason"]
        for r in out.select("ingest_idx", "discard_reason")
        .orderBy("ingest_idx")
        .collect()
    ]
    # One entry per fixture case, in file order. Case 5 fails CIN *and*
    # attachments — attachments is checked last so it reports 2. Case 10 is
    # the (name, id) duplicate of case 9. Case 11 reuses id=6 whose first
    # occurrence was price-rejected — rejected rows never enter the control
    # list, so it is kept, not marked duplicate.
    assert reasons == [0, 1, -1, 2, 2, 3, 3, 4, 0, 5, 0]


def test_stage2_clean_normalizes(spark, contracts_df):
    out = stage2_clean(
        stage2_filter(
            contracts_df, COMPANIES, RESORTS, price_min=1000.0, date_min="2024-01-01"
        )
    )
    assert out.count() == 3  # ids 1, 9 (first), 6 (second valid occurrence)
    names = [r["nazov"] for r in out.collect()]
    assert all(n == n.strip() for n in names)


def test_resort_early_exit_quirk(spark, contracts_df):
    """Only the first 3 resort key-columns are consulted (02:214-225)."""
    four_keys = [["NOMATCH1"], ["NOMATCH2"], ["NOMATCH3"], ["Ministerstvo vnútra"]]
    out = stage2_filter(contracts_df, COMPANIES, four_keys, price_min=0.0)
    r1 = out.filter(F.col("id") == "1").first()["discard_reason"]
    assert r1 == -1  # col 4 would match, but the quirk never reaches it


def test_pipe_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", 'va|lue', "te\nxt"), ("2", "plain", "x")], "id string, a string, b string"
    )
    out = str(tmp_path / "csv_out")
    write_pipe_csv(df, out)
    back = read_pipe_csv(spark, out, all_string=True, multi_line=True)
    got = {r["id"]: (r["a"], r["b"]) for r in back.collect()}
    assert got == {"1": ("va|lue", "te\nxt"), "2": ("plain", "x")}


def test_text_tree_scan(spark, tmp_path):
    for cid in ("100", "200"):
        d = tmp_path / cid
        d.mkdir()
        (d / "doc1.txt").write_text(f"content of {cid}")
        (d / "skip.pdf").write_text("binary-ish")
    df = read_text_tree(spark, str(tmp_path))
    rows = {(r["id"], r["filename"]): r["text"] for r in df.collect()}
    assert rows == {
        ("100", "doc1.txt"): "content of 100",
        ("200", "doc1.txt"): "content of 200",
    }


def test_contracts_pipeline_end_to_end(spark, tmp_path):
    """pipeline.contracts_pipeline: XML file → (clean, audit, corrupt) in
    one call — same semantics as the staged fixtures above."""
    from crz_scraper_spark.pipeline import contracts_pipeline

    cases = [
        _contract_xml("1"),
        _contract_xml("2", dodavatel_ico="99999999"),  # CIN fail
        _contract_xml("3", cena="50.0"),  # price fail
    ]
    p = tmp_path / "dump.xml"
    p.write_text(
        "<?xml version='1.0' encoding='UTF-8'?>\n<dump>\n"
        + "\n".join(cases)
        + "\n</dump>"
    )
    clean, audit, corrupt = contracts_pipeline(
        spark,
        str(p),
        company_cins=COMPANIES,
        resort_names_by_key=RESORTS,
        price_min=100.0,
        date_min="2024-01-01 00:00:00",
    )
    assert corrupt.count() == 0
    reasons = {r.id: r.discard_reason for r in audit.collect()}
    assert reasons == {"1": 0, "2": 1, "3": 3}
    assert [r.id for r in clean.collect()] == ["1"]


def test_documents_pipeline_end_to_end(spark, sf_dir):
    """pipeline.documents_pipeline: tagged+ranked docs with subject,
    quality, and language columns in one composition."""
    from crz_scraper_spark.pipeline import documents_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    out = documents_pipeline(docs, anchors=("customer", "window"))
    cols = set(out.columns)
    assert {"doc_id", "total_hits", "subject", "quality_score", "lang_guess"} <= cols
    rows = out.collect()
    assert rows and all(r.total_hits > 0 for r in rows)
    # every surviving doc came from the input and kept its metadata join
    in_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert {r.doc_id for r in rows} <= in_ids


def test_supplements_doubly_nested(spark, tmp_path):
    """Dodatky round-trip: supplement rows each carry their own attachments
    array (`03_download_contracts.py:640-653`'s doubly-nested list algebra),
    consumable with two explodes and a per-contract rollup."""
    dodatky = (
        "<dodatok><dod_id>d1</dod_id><nazov>Dodatok 1</nazov>"
        "<cena>10.0</cena><datum>2024-07-01 09:00:00</datum>"
        "<prilohy>"
        "<priloha><nazov>p1.pdf</nazov><subor>p1.pdf</subor>"
        "<velkost>11</velkost><odkaz>https://x/p1.pdf</odkaz>"
        "<datum>2024-07-01 09:00:00</datum></priloha>"
        "<priloha><nazov>p2.pdf</nazov><subor>p2.pdf</subor>"
        "<velkost>22</velkost><odkaz>https://x/p2.pdf</odkaz>"
        "<datum>2024-07-01 09:00:00</datum></priloha>"
        "</prilohy></dodatok>"
        "<dodatok><dod_id>d2</dod_id><nazov>Dodatok 2</nazov>"
        "<cena>20.0</cena><datum>2024-08-01 09:00:00</datum>"
        "<prilohy>"
        "<priloha><nazov>p3.pdf</nazov><subor>p3.pdf</subor>"
        "<velkost>33</velkost><odkaz>https://x/p3.pdf</odkaz>"
        "<datum>2024-08-01 09:00:00</datum></priloha>"
        "</prilohy></dodatok>"
    )
    xml = _contract_xml("42").replace(
        "</contract>", f"<dodatky>{dodatky}</dodatky></contract>"
    )
    p = tmp_path / "dump.xml"
    p.write_text(f"<?xml version='1.0'?>\n<dump>\n{xml}\n</dump>")
    df = read_contracts_xml(spark, str(p))
    clean, corrupt = split_corrupt(df)
    assert corrupt.count() == 0
    flat = flatten_contracts(clean)
    atts = (
        flat.select("id", F.explode("dodatky").alias("d"))
        .select("id", F.col("d.dod_id").alias("dod_id"), F.explode("d.prilohy").alias("a"))
    )
    per_contract = atts.groupBy("id").agg(
        F.count("*").alias("n_att"), F.sum("a.velkost").alias("total_size")
    ).collect()
    assert [(r.id, r.n_att, r.total_size) for r in per_contract] == [("42", 3, 66)]
    per_supp = {
        r.dod_id: r["count"]
        for r in atts.groupBy("dod_id").count().collect()
    }
    assert per_supp == {"d1": 2, "d2": 1}


def test_jsonl_source_roundtrip(spark, sf_dir, tmp_path):
    """JSONL (the training-pipeline interchange format) round-trips through
    spark.read/write.json with an explicit schema — values and nested props
    survive; corrupt lines route to _corrupt_record instead of failing."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(100)
    if dict(events.dtypes).get("ts") == "bigint":
        events = events.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    out = str(tmp_path / "events_jsonl")
    events.write.mode("overwrite").json(out)
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string, _corrupt_record string"
    )
    back = spark.read.schema(schema).option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(out).cache()
    assert back.filter(F.col("_corrupt_record").isNotNull()).count() == 0
    a = sorted(
        (r.event_id, r.user_id, r.event_type, round(r.value, 9))
        for r in events.collect()
    )
    b = sorted(
        (r.event_id, r.user_id, r.event_type, round(r.value, 9))
        for r in back.collect()
    )
    assert a == b
    # corrupt line routes, clean lines still parse
    import pathlib
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "x.json").write_text('{"event_id": 1, "user_id": 2}\n{not json}\n')
    routed = spark.read.schema(schema).option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(str(bad)).cache()
    assert routed.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    assert routed.filter(F.col("event_id") == 1).count() == 1


def test_observe_discards_one_pass_audit(spark, contracts_df):
    """Observation metrics equal the group-by tallies, collected by the
    same job that materializes the audit (no second scan)."""
    from crz_scraper_spark.pipeline import observe_discards

    audit = stage2_filter(
        contracts_df, COMPANIES, RESORTS, price_min=1000.0,
        date_min="2024-01-01",
    )
    observed, obs = observe_discards(audit)
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    want = {
        r["discard_reason"]: r["count"]
        for r in audit.groupBy("discard_reason").count().collect()
    }
    assert m["rows_total"] == sum(want.values())
    assert m["kept"] == want.get(0, 0)
    assert m["no_attachments"] == want.get(2, 0)
    assert m["duplicate"] == want.get(5, 0)
    assert m["price_reject"] == want.get(3, 0)


def test_tables_pipeline_end_to_end(spark):
    """Entry 3 (stages 6→7→9) as one call: classification, the stage-7
    disjunctive keep filter, price-column pick, and keyword suggestions all
    derive from one cells pass (fixture mirrors tests/test_operators.py)."""
    from pyspark.sql import Row

    from crz_scraper_spark.pipeline import tables_pipeline

    rows = []

    def add(table, col, values, header):
        rows.append(Row(table_id=table, col=col, row_no=0, cell=header))
        for i, v in enumerate(values, start=1):
            rows.append(Row(table_id=table, col=col, row_no=i, cell=v))

    add("t1", "c1", ["engineer", "driver", "cook", "welder"], "pozicia praca cena")
    add("t1", "c2", ["1200", "900", "750", "1100"], "cena spolu")
    add("t1", "c3", ["", "", "", ""], "poznamka")
    add("t2", "c1", ["lorem", "ipsum", "dolor", "sit"], "text")
    cells = spark.createDataFrame(rows)

    out = tables_pipeline(cells, ["pozícia", "pozicia", "cena", "praca"])
    assert [r["table_id"] for r in out["kept_tables"].collect()] == ["t1"]
    best = {r["table_id"]: r["col"] for r in out["best_price_col"].collect()}
    assert best == {"t1": "c2"}  # the >75%-digits column
    sugg = {r["word"] for r in out["suggested_keywords"].collect()}
    assert "cena" in sugg


def test_cli_list_and_unknown():
    """python -m crz_scraper_spark: list covers the registry; unknown query
    exits 2 (no Spark session is started on the error path)."""
    import io
    from contextlib import redirect_stderr, redirect_stdout

    from crz_scraper_spark.__main__ import main
    from crz_scraper_spark.plans.registry import REGISTRY

    out = io.StringIO()
    with redirect_stdout(out):
        assert main(["list"]) == 0
    assert set(out.getvalue().split()) == set(REGISTRY)

    err = io.StringIO()
    with redirect_stderr(err):
        assert main(["run", "definitely_not_a_query"]) == 2
    assert "unknown queries" in err.getvalue()


def test_curation_pipeline_rejects_unknown_hash_tier(spark, sf_dir):
    """A hash_tier typo ('md5', 'portable') must raise, not silently run
    the production xxhash64 tier (ADVICE r7)."""
    import pytest

    from crz_scraper_spark.pipeline import curation_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="hash_tier"):
        curation_pipeline(docs, hash_tier="md5")


def test_curation_pipeline_end_to_end(spark, sf_dir):
    """The curation chain composes the verified operators: stage counts are
    monotone non-increasing, every dropped id carries a stage tag, the
    drop ledger + survivors exactly partition the input, near-dup
    representatives are cluster minima, and two runs are identical
    (deterministic dedup/split)."""
    from crz_scraper_spark.pipeline import curation_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curation_pipeline(docs)
    audit = {r["stage"]: r["n_rows"] for r in out["audit"].collect()}
    assert (
        audit["input"] >= audit["exact_dedup"] >= audit["near_dedup"]
        >= audit["quality_floor"] == audit["final"]
    )
    survivors = out["survivors"].collect()
    dropped = out["dropped"].collect()
    assert len(survivors) == audit["final"]
    # Partition property: survivors ∪ dropped == input ids, disjoint.
    s_ids = {r["doc_id"] for r in survivors}
    d_ids = {r["doc_id"] for r in dropped}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert s_ids | d_ids == all_ids and not (s_ids & d_ids)
    assert {r["stage"] for r in dropped} <= {
        "exact_dup", "near_dup", "low_quality"
    }
    # Representatives are cluster minima.
    for r in out["near_dup_clusters"].collect():
        assert r["cluster_id"] <= r["doc_id"]
    # Determinism: a second run reproduces survivors + splits exactly.
    again = curation_pipeline(docs)["survivors"].collect()
    assert sorted(map(tuple, survivors)) == sorted(map(tuple, again))
    # Split buckets roughly honor the 80/20 target.
    splits = {r["doc_id"]: r["split"] for r in survivors}
    frac = sum(1 for v in splits.values() if v == "train") / len(splits)
    assert 0.7 < frac < 0.9


def test_quality_score_single_tokenizer_evaluation(spark):
    """r10 staging (guide §1.2 step 2): quality_score computes its token
    array ONCE through a staged projection — the previous flat expression
    tree re-evaluated the tokenizer regex-split 11× per row (Spark's
    subexpression elimination does not reach into interpreted
    higher-order array lambdas). Pin the plan to one split() and the
    output to a hand-computed row."""
    from pyspark.sql import Row

    from crz_scraper_spark.operators.textquality import quality_score

    df = spark.createDataFrame(
        [Row(doc_id=1, text="The quick, BROWN fox and the dog!")]
    )
    out = quality_score(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(") == 1, plan
    r = out.collect()[0]
    # tokens: the, quick, brown, fox, and, the, dog -> 7; stops: the, and,
    # the -> 3; punct: ',' and '!' of 33 chars; uppers: T,B,R,O,W,N -> 6
    assert r["n_tokens"] == 7 and r["n_chars_calc"] == 33
    assert r["stop_ratio"] == round(3 / 7, 6)
    assert r["punct_ratio"] == round(2 / 33, 6)
    assert r["upper_ratio"] == round(6 / 33, 6)
    assert r["quality_score"] == round(
        min(7 / 100.0, 1.0) * 0.4
        + min((3 / 7) * 5.0, 1.0) * 0.3
        + (1.0 - min((2 / 33) * 5.0, 1.0)) * 0.3,
        6,
    )
