"""jobs/run_report.py: data-card composition, exact values on the
fixture, and determinism."""

from __future__ import annotations

import json

import run_report as R


def test_report_card_values_and_determinism(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    card = R.build_report(docs)

    n = docs.count()
    assert card["n_docs"] == n
    assert card["profile"]["doc_id"] == {"n_nonnull": n, "n_distinct": n}

    # composition shares sum to ~1 on each axis and cover every doc
    for axis in ("by_source", "by_lang"):
        rows = card["composition"][axis]
        assert sum(v["docs"] for v in rows.values()) == n
        assert abs(sum(v["char_share"] for v in rows.values()) - 1.0) < 1e-3

    # the fixture has no exact duplicate texts and no PII
    assert card["duplication"] == {
        "n_unique": n,
        "n_dup_docs": 0,
        "n_dup_groups": 0,
        "dup_rate": 0.0,
    }
    assert card["pii"] == {"email": 0, "ipv4": 0, "phone": 0}

    assert 0.0 <= card["quality"]["repetition_pass_rate"] <= 1.0
    assert card["length_chars"]["p50"] <= card["length_chars"]["p99"]
    assert card["length_chars"]["p99"] <= card["length_chars"]["max"]

    # deterministic: a second build is byte-identical
    assert json.dumps(card, sort_keys=True) == json.dumps(
        R.build_report(docs), sort_keys=True
    )


def test_report_counts_injected_duplicates_and_pii(spark, tmp_path):
    rows = [
        (1, "clean text about solar panels", "en", "src0", 29),
        (2, "clean text about solar panels", "en", "src0", 29),  # exact dup
        (3, "mail me at a.b@example.com twice a.b@example.com", "en", "src1", 49),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    card = R.build_report(docs)
    assert card["duplication"]["n_unique"] == 2
    assert card["duplication"]["n_dup_docs"] == 1
    assert card["duplication"]["n_dup_groups"] == 1
    assert card["pii"]["email"] == 2


def test_report_cli_writes_json(spark, sf_dir, tmp_path):
    out = tmp_path / "card.json"
    rc = R.main(
        ["--input", f"{sf_dir}/documents.parquet", "--json-out", str(out)]
    )
    assert rc == 0
    card = json.loads(out.read_text())
    assert card["n_docs"] > 0 and "composition" in card
