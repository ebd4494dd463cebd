"""Unit tests for the shared extraction rules (the executable spec).

Each case mirrors a reference behavior cited in rules.py docstrings."""

from open_source_legislation_spark import rules


def test_clean_text_whitespace_and_tags():
    # reference scrapingHelpers.py:196-220 analog
    assert rules.clean_text("a\xa0b\r\nc  d") == "a b c d"
    assert rules.clean_text("<i>Term</i> means x") == "Term means x"
    assert rules.clean_text(None) == ""


def test_clean_text_dash_folding():
    # reference scrapeECFR.py:1355 analog
    assert rules.clean_text("range 1—2 and 3–4") == "range 1-2 and 3-4"


def test_clean_text_preserves_curly_quotes():
    assert rules.clean_text("“Act” means x") == "“Act” means x"


def test_node_status_keywords():
    # reference RESERVED_KEYWORDS, scrapeCA.py:57 / scrapeECFR.py:35
    assert rules.node_status("[Reserved]") == "reserved"
    assert rules.node_status("REPEALED by Stats") == "repealed"
    assert rules.node_status("[Renumbered to 42]") == "renumbered"
    assert rules.node_status("Scope and purpose") == "valid"


def test_parse_hierarchy_marker():
    assert rules.parse_hierarchy_marker("Title 40. Protection") == (
        "title",
        "40",
        "Protection",
    )
    assert rules.parse_hierarchy_marker("Section 1.2 Scope") == ("section", "1.2", "Scope")
    assert rules.parse_hierarchy_marker("Chapter 3: General") == ("chapter", "3", "General")
    assert rules.parse_hierarchy_marker("The title of the book") is None


def test_id_algebra():
    # reference pydanticModels.py:96-123
    assert rules.id_add_level("conv=c1", "title", "40") == "conv=c1/title=40"
    assert rules.id_pop_level("conv=c1/title=40") == "conv=c1"
    assert rules.id_current_level("conv=c1/title=40") == ("title", "40")


def test_extract_mentions_cfr_usc_cal_url():
    text = (
        "Per 40 CFR Part 205 and 5 U.S.C. § 101, see Cal. BPC § 115 "
        "and https://ex.gov/title-40/part-105."
    )
    ms = rules.extract_mentions(text)
    keys = [m["raw_key"] for m in ms]
    assert "cfr/title=40/part=205" in keys
    assert "usc/title=5/section=101" in keys
    assert "ca/code=bpc/section=115" in keys
    assert "url/https://ex.gov/title-40/part-105" in keys
    # ordered by offset
    assert keys == [m["raw_key"] for m in sorted(ms, key=lambda d: (d["start"], d["raw_key"]))]


def test_candidate_ladder():
    # reference analyze_partial_link backoff, pydanticModels.py:595-624
    cands = rules.candidate_keys("usc/title=5/section=5")
    assert (1, "usc/title=5/section=5") in cands
    assert (2, "usc/title=5/section=005") in cands
    assert (3, "usc/title=5") in cands
    # only 1-2 ASCII digits pad: superscript and Arabic-Indic digits pass
    # str.isdigit() but get no rung 2 (the JVM ladder shares this spec)
    assert rules.candidate_keys("a/b=5") == [(1, "a/b=5"), (2, "a/b=005"), (3, "a")]
    assert rules.candidate_keys("a/b=²") == [(1, "a/b=²"), (3, "a")]
    assert rules.candidate_keys("a/b=٣") == [(1, "a/b=٣"), (3, "a")]


def test_extract_definitions_quoted():
    ds = rules.extract_definitions("“Act” means the Noise Control Act of 1972.", False)
    assert ds == [
        {
            "term": "act",
            "definition": "the Noise Control Act of 1972",
            "kind": "quoted",
            "incorporated_from": None,
            "parent_term": None,
        }
    ]


def test_extract_definitions_emphasized_requires_scope():
    text = "Operator. Any person who operates equipment."
    assert rules.extract_definitions(text, False) == []
    ds = rules.extract_definitions(text, True)
    assert ds[0]["term"] == "operator"
    assert ds[0]["kind"] == "emphasized"


def test_extract_definitions_incorporated():
    ds = rules.extract_definitions(
        "The term “State” has the meaning as defined in 5 U.S.C. § 101.", False
    )
    assert ds[0]["kind"] == "incorporated"
    assert ds[0]["term"] == "state"
    assert "5 U.S.C." in ds[0]["incorporated_from"]


def test_definitions_header_not_a_definition():
    assert rules.extract_definitions("Definitions. As used in this part:", True) == []
    assert rules.is_definitions_header("Definitions. As used in this part:")
