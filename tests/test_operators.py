"""Unit tests per operator, mirroring the reference's per-function unit tests
(SURVEY.md section 5: debatcher FunctionTest.kt:22-58, TestLineCleanup.kt,
StringUtilsTest.kt etc.)."""

import pytest
from pyspark.sql import functions as F

from data_exchange_hl7_spark.functions import scalars
from data_exchange_hl7_spark.operators import debatch as D
from data_exchange_hl7_spark.operators import dedup as DD
from data_exchange_hl7_spark.operators import normalize as N
from data_exchange_hl7_spark.operators import validate as V

# ----------------------------------------------------------------- debatch

BATCH = "FHS|batchhdr\nBHS|x\nMSH|^~\\&|one\nPID|1\nMSH|^~\\&|two\nOBX|2\nBTS|1\nFTS|1"


def test_debatch_batch_file(spark):
    df = spark.createDataFrame([("f1", BATCH)], "file_id string, content string")
    out = D.debatch(df).collect()
    assert len(out) == 2
    assert [r["message_index"] for r in out] == [1, 2]
    assert all(r["single_or_batch"] == "BATCH" for r in out)
    assert out[0]["message_content"].startswith("MSH|^~\\&|one")
    assert "PID|1" in out[0]["message_content"]
    assert out[1]["message_content"].startswith("MSH|^~\\&|two")
    assert out[0]["batch_header"] == "FHS|batchhdr"
    assert all(r["debatch_status"] == "RECEIVED" for r in out)


def test_debatch_single(spark):
    df = spark.createDataFrame(
        [("f1", "MSH|^~\\&|solo\nPID|9")], "file_id string, content string"
    )
    out = D.debatch(df).collect()
    assert len(out) == 1
    assert out[0]["single_or_batch"] == "SINGLE"
    assert out[0]["message_index"] == 1


def test_debatch_empty_rejected(spark):
    """Zero-MSH file survives as one REJECTED row (Function.kt:150-170)."""
    df = spark.createDataFrame(
        [("bad", "FHS|only\nBTS|0"), ("empty", "")], "file_id string, content string"
    )
    out = {r["file_id"]: r for r in D.debatch(df).collect()}
    assert out["bad"]["debatch_status"] == "REJECTED"
    assert out["bad"]["message_index"] == 0
    assert out["empty"]["debatch_status"] == "REJECTED"


def test_debatch_bom_and_blank_lines(spark):
    """CovidELRWithBlanks fixture analogue: BOM + blank lines cleaned."""
    content = "﻿MSH|^~\\&|a\n\n   \nOBX|1\n"
    df = spark.createDataFrame([("f", content)], "file_id string, content string")
    out = D.debatch(df).collect()
    assert len(out) == 1
    assert out[0]["message_content"] == "MSH|^~\\&|a\nOBX|1"


def test_debatch_deterministic_ids(spark):
    df = spark.createDataFrame([("f1", BATCH)], "file_id string, content string")
    a = [r["message_id"] for r in D.debatch(df).collect()]
    b = [r["message_id"] for r in D.debatch(df.repartition(3)).collect()]
    assert sorted(a) == sorted(b)  # content-derived, not uuid()


def test_coalesce_metadata(spark):
    df = spark.createDataFrame(
        [("", "tus-1"), ("up-2", "x"), ("", "")], "upload_id string, tus_tguid string"
    )
    out = df.select(
        D.coalesce_metadata("upload_id", "tus_tguid").alias("v")
    ).collect()
    assert [r["v"] for r in out] == ["tus-1", "up-2", "UNKNOWN"]


# ------------------------------------------------------------------- dedup


def _events(spark):
    rows = [
        # key A: clean order
        ("A", 1, 10, "e1"), ("A", 2, 20, "e2"), ("A", 3, 30, "e3"),
        # key B: same ts tie -> lsn breaks it
        ("B", 5, 100, "e4"), ("B", 6, 100, "e5"),
        # key C: same lsn+ts (pathological) -> event_id breaks it
        ("C", 7, 50, "e6"), ("C", 7, 50, "e7"),
    ]
    return spark.createDataFrame(rows, "k string, lsn long, ts long, event_id string")


def test_latest_by_key_cascade(spark):
    out = {r["k"]: r for r in DD.latest_by_key(_events(spark), ["k"]).collect()}
    assert out["A"]["event_id"] == "e3"
    assert out["B"]["event_id"] == "e5"  # higher lsn wins the ts tie
    assert out["C"]["event_id"] == "e7"  # event_id is the total-order fallback


def test_bucketed_equals_plain(spark):
    """latest_by_key_bucketed must match latest_by_key exactly (same total
    order), while leaving rows partitioned by the storage bucket."""
    df = _events(spark).withColumn(
        "__bucket", F.pmod(F.xxhash64("k"), F.lit(4)).cast("int")
    )
    plain = sorted(
        tuple(r) for r in DD.latest_by_key(df, ["k"]).select("k", "event_id").collect()
    )
    bucketed = sorted(
        tuple(r)
        for r in DD.latest_by_key_bucketed(df, ["k"])
        .select("k", "event_id")
        .collect()
    )
    assert bucketed == plain


def test_sequence_by_key(spark):
    out = DD.sequence_by_key(_events(spark), ["k"]).collect()
    a_rows = sorted(
        [(r["order_position"], r["event_id"]) for r in out if r["k"] == "A"]
    )
    assert a_rows == [(1, "e3"), (2, "e2"), (3, "e1")]
    assert sum(r["is_latest"] for r in out) == 3  # one per key


# ---------------------------------------------------------------- validate


def _mk_event(spark, **over):
    base = dict(
        op="UPDATE", commit="c1", new_path=None, content="def f(): pass",
        repo="r", path="p",
    )
    base.update(over)
    return spark.createDataFrame(
        [tuple(base.values())], "op string, commit string, new_path string, content string, repo string, path string"
    )


@pytest.mark.parametrize(
    "over,status",
    [
        (dict(), "VALID_MESSAGE"),
        (dict(commit=""), "STRUCTURE_ERRORS"),
        (dict(op="FROB"), "STRUCTURE_ERRORS"),
        (dict(op="RENAME"), "STRUCTURE_ERRORS"),  # no new_path
        (dict(content=None), "STRUCTURE_ERRORS"),  # upsert without content
        (dict(content="x" * 20), "VALID_MESSAGE"),
        (dict(content="  padded  "), "CONTENT_ERRORS_OR_WARN"),
    ],
)
def test_validate_statuses(spark, over, status):
    out = V.validate(_mk_event(spark, **over)).collect()[0]
    if status == "CONTENT_ERRORS_OR_WARN":
        # whitespace is a Warning, not an error: stays VALID
        assert out["status"] == "VALID_MESSAGE"
        assert out["warning_count"]["content"] == 1
    else:
        assert out["status"] == status


def test_validate_structure_precedence(spark):
    """Structure errors win over content errors (ProfileManager.kt:158-163)."""
    df = _mk_event(spark, commit="", content="x" * 2_000_000)
    out = V.validate(df, max_content_bytes=100).collect()[0]
    assert out["status"] == "STRUCTURE_ERRORS"
    assert out["error_count"]["structure"] >= 1
    assert out["error_count"]["content"] >= 1


def test_validate_schema_event_exempt_from_commit(spark):
    df = _mk_event(spark, op="SCHEMA_ADD", commit="", content=None)
    out = V.validate(df).collect()[0]
    assert out["status"] == "VALID_MESSAGE"


def test_branch(spark):
    df = V.validate(
        _mk_event(spark).unionByName(_mk_event(spark, commit=""))
    )
    ok, err = V.branch(df)
    assert ok.count() == 1 and err.count() == 1


def test_nist_report_three_category_golden(spark):
    """Full NistReport struct golden (NistReport.kt:13-55): three entry
    arrays, 3-field error/warning counts, precedence status."""
    out = V.validate(
        _mk_event(spark, commit="", content="  padded  ")
    ).collect()[0]
    rep = out["report"]
    # entries bucketed per section
    assert [e["path"] for e in rep["entries"]["structure"]] == ["commit"]
    assert [e["description"] for e in rep["entries"]["content"]] == [
        "leading/trailing whitespace or BOM"
    ]
    assert list(rep["entries"]["value_set"]) == []
    # SummaryCount shape {structure, value_set, content}
    assert rep["error_count"].asDict() == {"structure": 1, "value_set": 0, "content": 0}
    assert rep["warning_count"].asDict() == {"structure": 0, "value_set": 0, "content": 1}
    assert rep["status"] == "STRUCTURE_ERRORS"
    # flat view concatenates all three sections
    assert len(out["report_entries"]) == 2


# ------------------------------------------------------------------- vocab


def _vocab_fixture(spark):
    from data_exchange_hl7_spark.operators.vocab import vocab_table

    return vocab_table(
        spark,
        [
            ("YNU", "Y", "Yes"),
            ("YNU", "N", "No"),
            ("YNU", "U", "Unknown"),
            ("RACE", "1002-5", "American Indian or Alaska Native"),
        ],
    )


def test_check_vocab_membership(spark):
    """MmgValidator.kt:289-310 checkVocab semantics: populated value absent
    from its value set -> VOCAB entry with the reference's message text."""
    from data_exchange_hl7_spark.operators.vocab import VocabCheck, check_vocab

    df = spark.createDataFrame(
        [("e1", "Y"), ("e2", "MAYBE"), ("e3", None), ("e4", "")],
        "event_id string, yn string",
    )
    out = check_vocab(
        df, _vocab_fixture(spark), [VocabCheck("yn", "YNU", path="OBX-5")]
    )
    rows = {r["event_id"]: r["value_set_entries"] for r in out.collect()}
    assert rows["e1"] == []
    assert len(rows["e2"]) == 1
    e = rows["e2"][0]
    assert e["description"] == "Unable to find 'MAYBE' on 'YNU'"
    assert e["category"] == "VOCAB" and e["classification"] == "Error"
    assert e["path"] == "OBX-5"
    # null/empty values are skipped (cardinality's job, not vocab's)
    assert rows["e3"] == [] and rows["e4"] == []


def test_check_vocab_usage_warning_and_status(spark):
    """usage != 'R' -> Warning (getCategory); Error misses flip status to
    CONTENT_ERRORS through the value-set branch of the precedence rule."""
    from data_exchange_hl7_spark.operators.vocab import VocabCheck, check_vocab

    df = _mk_event(spark).withColumn("yn", F.lit("MAYBE")).withColumn(
        "race", F.lit("9999-9")
    )
    checked = check_vocab(
        df,
        _vocab_fixture(spark),
        [VocabCheck("yn", "YNU"), VocabCheck("race", "RACE", usage="O")],
    )
    out = V.validate(
        checked, value_set_entries=F.col("value_set_entries")
    ).collect()[0]
    assert out["error_count"]["value_set"] == 1
    assert out["warning_count"]["value_set"] == 1
    assert out["status"] == "CONTENT_ERRORS"


def test_check_vocab_is_broadcast_join(spark):
    """The vocab dim must join as a broadcast (no shuffle of the fact side)."""
    from data_exchange_hl7_spark.operators.vocab import VocabCheck, check_vocab

    df = spark.range(100).select(
        F.col("id").cast("string").alias("event_id"),
        F.when(F.col("id") % 2 == 0, "Y").otherwise("MAYBE").alias("yn"),
    )
    out = check_vocab(df, _vocab_fixture(spark), [VocabCheck("yn", "YNU")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --------------------------------------------------------------- normalize


def test_redact_default_rules(spark):
    df = spark.createDataFrame(
        [("x", "email bob@x.io ip 10.0.0.1 password: hunter2 ok")],
        "id string, content string",
    )
    out = N.redact(df).collect()[0]
    assert "bob@x.io" not in out["content"]
    assert "<redacted:email>" in out["content"]
    assert "<redacted:ip>" in out["content"]
    assert "hunter2" not in out["content"]
    rules_hit = {r["rule"] for r in out["redaction_report"]}
    assert rules_hit == {"email", "ipv4", "secret_assign"}


def test_redact_profile_fallback(spark):
    """Per-profile rules with DEFAULT fallback (Helper.kt:29-39)."""
    prof = {"strict": [N.RedactRule("digits", r"\d+", "#")]}
    df = spark.createDataFrame(
        [("strict", "a1b22"), ("other", "a1b22 x@y.zz")],
        "stream string, content string",
    )
    out = {r["stream"]: r for r in N.redact(df, profiles=prof, profile_col="stream").collect()}
    assert out["strict"]["content"] == "a#b#"
    assert "<redacted:email>" in out["other"]["content"]  # DEFAULT applied


def test_clean_content_null_safe(spark):
    df = spark.createDataFrame([(None,), ("﻿ hi \n",)], "content string")
    out = [r["content"] for r in N.clean_content(df).collect()]
    assert out == [None, "hi"]


# ----------------------------------------------------------------- scalars


def test_scalar_functions(spark):
    df = spark.createDataFrame(
        [("My Col-Name.x&y#2 !", "2024-03-01 10:20:30")], "name string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = df.select(
        scalars.normalize_name(F.col("name")).alias("norm"),
        scalars.truncate_name(F.lit("a" * 40), 10).alias("trunc"),
        scalars.iso_ts(F.col("ts")).alias("iso"),
        scalars.date_folder(F.col("ts")).alias("folder"),
        scalars.field(F.lit("a|b|c"), r"\|", 2).alias("fld"),
        scalars.filename_of(F.lit("x/y/z.txt")).alias("base"),
        scalars.first_line_with_prefix(F.lit("AAA|1\nBBB|2"), "BBB").alias("line"),
        scalars.deterministic_key(F.lit("a"), F.lit("b")).alias("key"),
    ).collect()[0]
    assert row["norm"] == "my_col_name_x_and_y_nbr2_"
    assert row["trunc"] == "a" * 7 + "_rg"
    assert row["iso"].startswith("2024-03-01T10:20:30.000")
    assert row["folder"] == "2024/03/01/10"
    assert row["fld"] == "b"
    assert row["base"] == "z.txt"
    assert row["line"] == "BBB|2"
    assert len(row["key"]) == 64


def test_engine_stage_facades(spark, tmp_path):
    """SURVEY 7.5 public API: the engine exposes the reference's verbs and
    they equal the operator-library results."""
    from data_exchange_hl7_spark.datagen import change_events
    from data_exchange_hl7_spark.engine import Engine
    from data_exchange_hl7_spark.operators.profile_transform import EXAMPLE_PROFILE

    eng = Engine(spark, str(tmp_path / "wh"), n_buckets=4)
    ev = change_events(spark, 500)
    ok, err = eng.validate(ev)
    assert ok.count() + err.count() == 500 and err.count() > 0

    hl7 = spark.createDataFrame(
        [("m1", "MSH|^~\\&|APP|FAC\nPID|1||PAT1^^X\nOBX|1|TX|CODE1|1|V1")],
        "message_id string, content string",
    )
    t = eng.transform(hl7, EXAMPLE_PROFILE)
    assert "json_lake" in t.columns
    segs = eng.segments(hl7)
    assert segs.filter(segs.segment_type == "OBX").count() == 1

    rep = eng.replay(ev, table_name="facade_replay", epoch_size=250, reason="t")
    assert rep.snapshot().count() > 0


# ------------------------------------------------- embedded binary (D5)

ED_MSG = "\n".join(
    [
        "MSH|^~\\&|App|Fac",
        "PID|1||P1",
        "OBX|1|ED|18836-6^doc||app^image^png^Base64^aGVsbG8gYmluYXJ5|",
        "OBX|2|NM|30525-0||42",
    ]
)


def test_strip_embedded_binary_roundtrip(spark):
    """HL7Transformer.kt:17-112 semantics: payload replaced by a
    deterministic URI at $dir/$line.$ext; side table carries the blob;
    re-injecting the payload restores the original message."""
    from data_exchange_hl7_spark.operators.normalize import strip_embedded_binary

    df = spark.createDataFrame([("m1", ED_MSG)], "message_id string, content string")
    stripped, att = strip_embedded_binary(df)
    s = stripped.collect()[0]
    a = att.collect()
    assert len(a) == 1
    assert a[0]["line_no"] == 3 and a[0]["extension"] == "png"
    assert a[0]["payload_b64"] == "aGVsbG8gYmluYXJ5"
    assert a[0]["n_bytes"] == len(b"hello binary")
    assert a[0]["ref_uri"] == "attachment://m1/3.png"
    assert s["n_embedded"] == 1
    assert "aGVsbG8gYmluYXJ5" not in s["content"]
    assert "^Base64^attachment://m1/3.png|" in s["content"]
    # round-trip: re-inject the side-channel payload -> original message
    restored = s["content"].replace(a[0]["ref_uri"], a[0]["payload_b64"])
    assert restored == ED_MSG


def test_strip_embedded_binary_no_ed_passthrough(spark):
    """Messages without embedded data are byte-identical (incl. \\r\\n)."""
    from data_exchange_hl7_spark.operators.normalize import strip_embedded_binary

    msg = "MSH|^~\\&|App\r\nOBX|1|NM|x||1"
    df = spark.createDataFrame([("m2", msg)], "message_id string, content string")
    stripped, att = strip_embedded_binary(df)
    assert att.count() == 0
    row = stripped.collect()[0]
    assert row["content"] == msg and row["n_embedded"] == 0


def test_strip_embedded_binary_multiple(spark):
    """Generalization beyond the reference: every ED payload is stripped,
    one side row each, URIs keyed by line number."""
    from data_exchange_hl7_spark.operators.normalize import strip_embedded_binary

    msg = "\n".join(
        [
            "MSH|^~\\&|App",
            "OBX|1|ED|a||x^img^jpg^Base64^QUFB|",
            "OBX|2|ED|b||x^img^^Base64^QkJC|",
        ]
    )
    df = spark.createDataFrame([("m3", msg)], "message_id string, content string")
    stripped, att = strip_embedded_binary(df)
    rows = sorted(att.collect(), key=lambda r: r["line_no"])
    assert [r["line_no"] for r in rows] == [2, 3]
    assert rows[0]["ref_uri"] == "attachment://m3/2.jpg"
    assert rows[1]["ref_uri"] == "attachment://m3/3"  # empty extension -> no dot
    c = stripped.collect()[0]["content"]
    assert "QUFB" not in c and "QkJC" not in c


# -------------------------------------------------- MMG content checks (V4)


def test_parse_cardinality():
    from data_exchange_hl7_spark.operators.mmg_content import parse_cardinality

    assert parse_cardinality("[0..1]") == (0, 1)
    assert parse_cardinality("[1..*]") == (1, None)
    assert parse_cardinality("[2..5]") == (2, 5)
    with pytest.raises(ValueError):
        parse_cardinality("1..2")


def _content_df(spark, msg):
    return spark.createDataFrame([("m", msg)], "message_id string, content string")


def test_check_content_cardinality_dates_mmwr(spark):
    """MmgValidator.kt:209-272 cardinality, 311-357 date/MMWR semantics."""
    from data_exchange_hl7_spark.operators.mmg_content import ContentRule, check_content

    rules = [
        ContentRule("result", "OBX-5", cardinality="[1..2]"),
        ContentRule("obs_date", "OBR-7", date_check=True),
        ContentRule("week", "OBR-8", mmwr_week_check=True, usage="O"),
    ]
    good = "MSH|^~\\&|a\nOBR|1||||||20240301|9\nOBX|1|ST|c|1|v1\nOBX|2|ST|c|2|v2"
    out = check_content(_content_df(spark, good), rules).collect()[0]
    assert out["content_entries"] == []

    # 3 OBX values > max 2; date invalid calendar; week 54 out of range
    bad = (
        "MSH|^~\\&|a\nOBR|1||||||20241399|54\n"
        "OBX|1|ST|c|1|v1\nOBX|2|ST|c|2|v2\nOBX|3|ST|c|3|v3"
    )
    out = check_content(_content_df(spark, bad), rules).collect()[0]
    cats = [e["category"] for e in out["content_entries"]]
    assert cats == ["CARDINALITY", "DATE_CONTENT", "MMWR_WEEK"]
    card = out["content_entries"][0]
    assert "expected [1..2], found 3" in card["description"]
    assert card["classification"] == "Error"
    assert out["content_entries"][2]["classification"] == "Warning"  # usage O

    # too few: min violation
    none = "MSH|^~\\&|a\nOBR|1||||||20240301|9"
    out = check_content(_content_df(spark, none), rules).collect()[0]
    assert [e["category"] for e in out["content_entries"]] == ["CARDINALITY"]
    assert "found 0" in out["content_entries"][0]["description"]


def test_check_content_date_formats(spark):
    from data_exchange_hl7_spark.operators.mmg_content import ContentRule, check_content

    rules = [ContentRule("d", "OBR-7", cardinality="[0..*]", date_check=True)]
    for val, ok in [
        ("20240301", True),
        ("20240301123045", True),
        ("20241301", False),  # month 13
        ("2024030", False),  # 7 digits
        ("202403011230", False),  # 12 digits (neither 8 nor 14)
    ]:
        msg = f"MSH|^~\\&|a\nOBR|1||||||{val}"
        out = check_content(_content_df(spark, msg), rules).collect()[0]
        assert (out["content_entries"] == []) == ok, val


def test_check_subid_uniqueness(spark):
    """MmgValidator.kt:100-165: missing sub-id and duplicate sub-id each emit
    an OBSERVATION_SUB_ID entry; the whole check is per-row array math."""
    from data_exchange_hl7_spark.operators.mmg_content import check_subid_uniqueness

    ok = "MSH|^~\\&|a\nOBX|1|ST|c|1|v\nOBX|2|ST|c|2|v"
    dup = "MSH|^~\\&|a\nOBX|1|ST|c|1|v\nOBX|2|ST|c|1|v"
    missing = "MSH|^~\\&|a\nOBX|1|ST|c||v\nOBX|2|ST|c|2|v"
    rows = {}
    for name, msg in [("ok", ok), ("dup", dup), ("missing", missing)]:
        rows[name] = check_subid_uniqueness(_content_df(spark, msg)).collect()[0]
    assert rows["ok"]["subid_entries"] == []
    assert [e["description"] for e in rows["dup"]["subid_entries"]] == [
        "Duplicate OBX sub-id within repeating block"
    ]
    assert [e["description"] for e in rows["missing"]["subid_entries"]] == [
        "OBX segment missing sub-id in repeating block"
    ]


def test_content_entries_fold_into_nist_report(spark):
    """Content entries merge into the NistReport content section alongside
    the structural content checks, and flip status via the precedence rule."""
    from data_exchange_hl7_spark.operators.mmg_content import ContentRule, check_content

    msg = "MSH|^~\\&|a\nOBR|1||||||20241399"
    df = _mk_event(spark).withColumn("hl7", F.lit(msg))
    checked = check_content(
        df, [ContentRule("d", "OBR-7", date_check=True)], content_col="hl7"
    )
    out = V.validate(
        checked, value_set_entries=F.col("content_entries")
    ).collect()[0]
    assert out["error_count"]["value_set"] == 1
    assert out["status"] == "CONTENT_ERRORS"


def test_enrich_coded_designations(spark):
    """TransformerSql.kt:68-74: coded elements gain _code_system_concept_name
    and _cdc_preferred_designation by vocab lookup; unknown and null codes
    leave both null."""
    from pyspark.sql import functions as F

    from data_exchange_hl7_spark.operators.vocab import enrich_coded, vocab_table

    vocab = vocab_table(
        spark, [("YNU", "Y", "Yes", "Yes (CDC)"), ("YNU", "N", "No", "No (CDC)")]
    )
    df = spark.createDataFrame(
        [("m1", "Y"), ("m2", "N"), ("m3", "X"), ("m4", None)], "id string, code string"
    )
    out = {
        r["id"]: r
        for r in enrich_coded(df, vocab, F.col("code"), "YNU", "ans").collect()
    }
    assert out["m1"]["ans_code_system_concept_name"] == "Yes"
    assert out["m1"]["ans_cdc_preferred_designation"] == "Yes (CDC)"
    assert out["m2"]["ans_cdc_preferred_designation"] == "No (CDC)"
    assert out["m3"]["ans_code_system_concept_name"] is None
    assert out["m4"]["ans_code_system_concept_name"] is None


def test_split_obx_epi_golden_two_obr(spark):
    """fn_hl7_to_obxs_and_segm.scala:36-68 golden: OBXs under the 68991-9
    OBR are epi, OBXs under any other OBR are non-epi, everything else
    (incl. OBX before any OBR) is other/non-epi by the anchor rule."""
    from data_exchange_hl7_spark.operators.profile_transform import (
        segment_lake,
        split_obx_epi,
    )

    msg = (
        "MSH|^~\\&|app\n"
        "OBX|1|ST|loose||x\n"            # OBX before any OBR -> non_epi (no anchor)
        "OBR|1||A|68991-9^Epi Info\n"
        "OBX|2|ST|q1||v1\n"
        "OBX|3|ST|q2||v2\n"
        "OBR|2||B|11111-1^Lab\n"
        "OBX|4|ST|q3||v3\n"
        "NTE|1|note\n"
    )
    df = spark.createDataFrame([("m1", msg)], "message_id string, content string")
    rows = {
        r["line_no"]: r for r in split_obx_epi(segment_lake(df)).collect()
    }
    assert rows[1]["obx_bucket"] == "other"            # MSH
    assert rows[2]["obx_bucket"] == "non_epi_obx"      # anchor-less OBX
    assert rows[2]["anchor_obr_code"] is None
    assert rows[3]["obx_bucket"] == "other"            # OBR itself
    assert rows[4]["obx_bucket"] == "epi_obx"
    assert rows[5]["obx_bucket"] == "epi_obx"
    assert rows[4]["anchor_obr_code"] == "68991-9"
    assert rows[7]["obx_bucket"] == "non_epi_obx"      # under the lab OBR
    assert rows[7]["anchor_obr_code"] == "11111-1"
    assert rows[8]["obx_bucket"] == "other"            # NTE


def test_lsh_hot_bucket_cap_binds(spark):
    """minhash_dup_pairs_capped must certify a BINDING cap: at sf0.01 the
    corpus has band buckets above LSH_MAX_BUCKET, so the capped pair set is
    a strict subset of the uncapped one."""
    from data_exchange_hl7_spark import queries_text as qt

    sf = "/root/testdata/sf0.01"
    capped = qt.minhash_dup_pairs_capped(spark, sf).count()
    uncapped = qt.minhash_dup_pairs(spark, sf).count()
    assert capped < uncapped, (capped, uncapped)


# ------------------------------------------- sketch percentile error bound


def test_pctl_sketch_bound_holds_and_is_nonvacuous(spark):
    """length_percentiles_sketch's verdict columns must certify a REAL
    approximation: (a) every (source, pctl) row — including the global
    __ALL__ tier — reports within_bound, the GK guarantee rank_err <=
    n/accuracy; (b) the sketch is actually inexact somewhere at sf0.01
    (the __ALL__ tier: n=500 >> accuracy' centroids), so the bound check
    is judged against genuine error, not equality."""
    from pyspark.sql import functions as F

    from data_exchange_hl7_spark import queries_text as qt

    sf = "/root/testdata/sf0.01"
    out = qt.length_percentiles_sketch(spark, sf).collect()
    assert len(out) > 3  # per-source rows plus the 3 __ALL__ rows
    assert all(r["within_bound"] for r in out)

    # non-vacuity: the global GK sketch differs from the exact order stat
    d = spark.read.parquet(f"{sf}/documents.parquet").select("n_chars")
    n = d.count()
    sk = d.agg(
        F.percentile_approx("n_chars", [0.5, 0.9, 0.99], qt.PCTL_SKETCH_ACC)
    ).collect()[0][0]
    exact_vals = [r[0] for r in d.orderBy("n_chars").collect()]
    exact = [exact_vals[(q * n + 99) // 100 - 1] for q in qt.PCTL_QS]
    assert sk != exact, "sketch exactly equals order stats — bound check vacuous"
