"""Hunspell affix-expansion fidelity (X6/J7 upgrade, SURVEY §7 Hard-3).

Probe set: entries of the PUBLIC en_US dictionary with inflections whose
acceptance under real Hunspell is known (standard English morphology + the
.aff rules themselves); negatives assert the expander is not just
accepting everything. The probes read the reference's en_US pair
(`Dicts/en_US/` of the reference checkout) when it is present, else the
synthetic `tests/data/hunspell/en_US_mini.*` pair: the en_US.aff rule
blocks for the probe words' flags and the probe stems with their en_US
flags. A synthetic FLAG-num dictionary mirrors the sk_SK.aff style
(`FLAG num`, numeric comma flags) so the Slovak path is exercised without
shipping the 130 KB affix file through the test."""

from __future__ import annotations

import os

import pytest

from crz_scraper_spark.functions.hunspell import (
    expand_dictionary,
    expand_entry,
    parse_aff,
)

_EN_DIR = "/root/reference/Dicts/en_US"
if not os.path.isdir(_EN_DIR):
    _EN_DIR = os.path.join(os.path.dirname(__file__), "data", "hunspell")
_EN_NAME = "en_US" if _EN_DIR.endswith("en_US") else "en_US_mini"
_EN_DIC = os.path.join(_EN_DIR, f"{_EN_NAME}.dic")
_EN_AFF = os.path.join(_EN_DIR, f"{_EN_NAME}.aff")


@pytest.fixture(scope="module")
def en_forms():
    return expand_dictionary(_EN_DIC, _EN_AFF)


def test_en_us_inflections_accepted(en_forms):
    # cat/SM -> plural + possessive; walk/MDRZGS -> the full verb paradigm;
    # create/KADSGNV -> prefix cross-products (re-, pro-) incl. prefixed
    # past tense (PFX A × SFX D cross product).
    for w in [
        "cat", "cats", "cat's",
        "walk", "walks", "walked", "walking", "walker", "walkers",
        "create", "created", "creating", "creation",
        "recreate", "recreated", "procreate",
        "motivate", "demotivate", "demotivated",
        "lockable",
    ]:
        assert w in en_forms, w


def test_en_us_non_words_rejected(en_forms):
    # Flags not carried by the stem must not leak: walk has no T (no
    # superlative), cat has no D/G; gibberish stays out.
    for w in ["walkest", "cated", "cating", "zzzqx", "walkeding"]:
        assert w not in en_forms, w


def test_condition_strip_interaction(en_forms):
    # SFX D: `y -> ied` only after consonant+y, `0 -> d` after e —
    # the condition/strip machinery, not naive concatenation.
    assert "motivated" in en_forms  # e-final stem takes bare 'd'
    assert "motivateed" not in en_forms


def test_flag_num_mode(tmp_path):
    # sk_SK.aff style: FLAG num, numeric comma-separated flags, strip+append
    # (ec -> ca: chlapec -> chlapca, the Slovak paradigm the reference's
    # spellcheck relies on).
    aff = tmp_path / "t.aff"
    aff.write_text(
        "SET UTF-8\nFLAG num\n"
        "SFX 1 N 1\nSFX 1 ec ca .\n"
        "SFX 22 N 1\nSFX 22 0 om .\n"
    )
    dic = tmp_path / "t.dic"
    dic.write_text("2\nchlapec/1,22\nstrom/22\n")
    forms = expand_dictionary(str(dic), str(aff))
    assert {"chlapec", "chlapca", "chlapecom", "strom", "stromom"} <= forms
    assert "stromca" not in forms  # flag 1 not carried by strom


def test_twofold_continuation(tmp_path):
    # One continuation level on the append field (plural + possessive
    # chain): word/S, S appends s/M, M appends 's.
    aff = tmp_path / "t.aff"
    aff.write_text(
        "SET UTF-8\n"
        "SFX S Y 1\nSFX S 0 s/M .\n"
        "SFX M Y 1\nSFX M 0 's .\n"
    )
    dic = tmp_path / "t.dic"
    dic.write_text("1\ndog/S\n")
    forms = expand_dictionary(str(dic), str(aff))
    assert {"dog", "dogs", "dogs's"} <= forms


def test_expand_entry_prefix_cross_only_when_both_allow(tmp_path):
    aff = tmp_path / "t.aff"
    # PFX U cross=Y, SFX D cross=N: "undo"-style prefix applies to the base
    # but must NOT combine with the non-cross suffix.
    aff.write_text(
        "SET UTF-8\n"
        "PFX U Y 1\nPFX U 0 un .\n"
        "SFX D N 1\nSFX D 0 ed .\n"
    )
    rules = parse_aff(str(aff))
    forms = expand_entry("lock", ("U", "D"), rules)
    assert {"lock", "unlock", "locked"} <= forms
    assert "unlocked" not in forms


def test_sk_aff_parses_if_present():
    sk_aff = "/root/reference/Dicts/sk_SK.aff"
    if not os.path.exists(sk_aff):
        pytest.skip("sk_SK.aff not present")
    rules = parse_aff(sk_aff)
    assert rules.flag_mode == "num"
    assert len(rules.rules) > 100  # the Slovak affix classes all parsed


def test_hunspell_oov_profile_end_to_end(spark):
    """The full-fidelity X6 path end-to-end: the en_US .dic/.aff pair
    expands at broadcast-build time and feeds the SAME semi-join plan as
    the wordset approximation — inflected forms are in-vocabulary, the
    gibberish document is flagged."""
    from crz_scraper_spark.operators.profiling import hunspell_oov_profile

    docs = spark.createDataFrame(
        [(1, "the cats walked home"), (2, "zzxqv qqzzk wwxqj vvqkz")],
        "doc_id bigint, text string",
    )
    prof = {
        r["doc_id"]: r
        for r in hunspell_oov_profile(docs, _EN_DIC, _EN_AFF).collect()
    }
    assert prof[1]["n_oov"] == 0 and prof[1]["is_gibberish"] == 0
    assert prof[2]["n_oov"] == 4 and prof[2]["is_gibberish"] == 1
