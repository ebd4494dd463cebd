"""Shared extraction rules — the executable spec.

One module, imported by BOTH the pure-Python oracle (``oracle.py``) and the
Spark pandas-UDF kernels (``operators/extract.py``), so the two cannot drift
(SURVEY.md §7.4.4). Every rule is a transcript-domain re-expression of a
reference behavior, cited per function.

All functions here are pure, deterministic, and operate on single strings;
the Spark side applies them over Arrow record batches (pandas Series), never
row-at-a-time through Spark's Python-UDF path.
"""

from __future__ import annotations

import re

# --------------------------------------------------------------------------
# Text cleaning — transcript analog of get_text_clean
# (reference scrapingHelpers.py:196-220 + eCFR dash folding scrapeECFR.py:1355)
# --------------------------------------------------------------------------

_RE_WS = re.compile(r"\s+")
_RE_TAG = re.compile(r"<[^<>]*>")
_DASH_TRANS = str.maketrans({"—": "-", "–": "-", "\xa0": " "})


def clean_text(text: str | None) -> str:
    """Normalize a turn's text.

    Mirrors the reference's cleaning chain: NBSP/CR/LF → space, residual
    HTML tags stripped, em/en dashes folded to '-', whitespace collapsed.
    Curly quotes are preserved — definition detection depends on them
    (reference scrapeECFR.py:616).
    """
    if text is None:
        return ""
    t = text.translate(_DASH_TRANS)
    t = t.replace("\r", " ").replace("\n", " ")
    t = _RE_TAG.sub(" ", t)
    t = _RE_WS.sub(" ", t)
    return t.strip()


# --------------------------------------------------------------------------
# Reserved / repealed / renumbered status
# (reference scrapeCA.py:57, scrapeECFR.py:35, AK keyword map; CLAUDE.md:556-561)
# --------------------------------------------------------------------------

_STATUS_RULES: list[tuple[re.Pattern[str], str]] = [
    (re.compile(r"\[\s*reserved", re.I), "reserved"),
    (re.compile(r"\brepealed\b", re.I), "repealed"),
    (re.compile(r"\[\s*renumbered", re.I), "renumbered"),
]


def node_status(name: str) -> str:
    for pat, status in _STATUS_RULES:
        if pat.search(name):
            return status
    return "valid"


# --------------------------------------------------------------------------
# Hierarchy markers — transcript analog of the per-level structure parse
# (reference scrapeCA.py:150-221 rank ladder; ALLOWED_LEVELS
#  pydanticModels.py:831-848). Rank: lower number = higher in hierarchy.
# --------------------------------------------------------------------------

LEVEL_RANKS: dict[str, int] = {"title": 1, "chapter": 2, "part": 3, "section": 4}

_RE_HIER = re.compile(
    r"^(Title|Chapter|Part|Section)\s+(\d+(?:\.\d+)?[A-Za-z]?)\s*[.:\-]?\s*(.*)$"
)


def parse_hierarchy_marker(text: str) -> tuple[str, str, str] | None:
    """If the (clean) turn text opens a hierarchy node, return
    ``(level_classifier, number, heading_name)``; else None.

    Transcript analog of number extraction at reference scrapeCA.py:260-271 /
    scrapeECFR.py:169-178: classifier word, level number (trailing '.'
    stripped), remainder as the node name.
    """
    m = _RE_HIER.match(text)
    if not m:
        return None
    classifier = m.group(1).lower()
    number = m.group(2).rstrip(".")
    name = m.group(3).strip()
    return classifier, number, name


def is_definitions_header(text: str) -> bool:
    """Scope header opening a definitions block
    (reference 'Definitions.' sections, scrapeECFR.py:301-351)."""
    return bool(re.match(r"^Definitions\s*[.:]", text))


# --------------------------------------------------------------------------
# Addendum / history-trailer detection — transcript analog of the trailing
# source/history paragraph the reference peels off every content node
# (extract_addendum, scrapeECFR.py:867-992; Addendum pydanticModels.py:370-406)
# --------------------------------------------------------------------------

# shared with the Spark side as an rlike pattern (same semantics in Python
# re and Java regex for this anchored alternation)
ADDENDUM_PATTERN = r"^(?:Source|History|Authority|Note)\s*:"
_RE_ADDENDUM = re.compile(ADDENDUM_PATTERN)


def is_addendum(text: str) -> bool:
    """True when a (clean) turn is a source/history trailer. The LAST such
    turn under a node becomes the node's addendum (reference keeps the
    trailing paragraph, scrapeECFR.py:905-940); its citations still flow
    into the mention stream like any other turn."""
    return bool(_RE_ADDENDUM.match(text))


# --------------------------------------------------------------------------
# NodeID algebra (reference pydanticModels.py:16-135) — '/' and '=' reserved.
# --------------------------------------------------------------------------


def id_add_level(node_id: str, classifier: str, number: str) -> str:
    # reference pydanticModels.py:114-123
    return f"{node_id}/{classifier}={number}"


def id_pop_level(node_id: str) -> str:
    # reference pydanticModels.py:96-101
    return node_id.rsplit("/", 1)[0] if "/" in node_id else node_id


def id_current_level(node_id: str) -> tuple[str, str]:
    # reference pydanticModels.py:73-82
    last = node_id.rsplit("/", 1)[-1]
    if "=" in last:
        c, n = last.split("=", 1)
        return c, n
    return last, ""


def conv_root_id(conv_id: str) -> str:
    """Root node per conversation — corpus-node analog
    (reference insert_jurisdiction_and_corpus_node, scrapingHelpers.py:28-58)."""
    return f"conv={conv_id}"


# Bluebook-ish level labels for citation assembly; '§' for sections matches
# the reference's section citations (scrapeECFR.py:1174-1210).
CITATION_LABELS: dict[str, str] = {
    "title": "Tit.",
    "chapter": "Ch.",
    "part": "Pt.",
    "section": "§",
}

# level number inside an id segment: digits, optional decimal, optional
# letter suffix — stops BEFORE a '-v_n' version tag
_RE_SEG_NUM = re.compile(r"^([0-9]+(?:\.[0-9]+)?[A-Za-z]?)")


def node_citation(node_id: str) -> str | None:
    """Bluebook-style citation derived from the id path, keyed per level
    classifier (reference create_citation_from_level_classifier,
    scrapeECFR.py:1174-1210): ``conv=c/title=4/section=1.2-v_2`` →
    ``Tit. 4, § 1.2``. Version tags are display noise and are stripped;
    the conv root itself has no citation (None)."""
    pieces: list[str] = []
    for seg in node_id.split("/")[1:]:
        cls, _, num = seg.partition("=")
        label = CITATION_LABELS.get(cls)
        if label is None:
            continue
        m = _RE_SEG_NUM.match(num)
        pieces.append(f"{label} {m.group(1) if m else num}")
    return ", ".join(pieces) if pieces else None


# --------------------------------------------------------------------------
# Citation mention detection — transcript analog of
# extract_paragraph_text_and_references (reference scrapeECFR.py:1112-1172)
# with link→corpus classification (scrapeECFR.py:1147-1158).
# --------------------------------------------------------------------------

_RE_CFR = re.compile(r"\b(\d+)\s+C\.?F\.?R\.?\s+(?:Part|§|Section)\s*([\d]+(?:\.[\d]+)?)")
_RE_USC = re.compile(r"\b(\d+)\s+U\.?S\.?C\.?\s+§?\s*(\d+[a-z]?)")
_RE_CAL = re.compile(r"\bCal\.\s+([A-Z]{2,4})\s+§\s*([\d]+(?:\.[\d]+)?)")
_RE_URL = re.compile(r"https?://[^\s<>\"')\]]+")


def classify_link(url: str) -> str:
    """Link → corpus classification (reference scrapeECFR.py:1147-1158)."""
    if "uscode" in url or "usc" in url:
        return "usc"
    if "ecfr" in url or "cfr" in url:
        return "ecfr"
    if "federalregister" in url or "/fr/" in url:
        return "fr"
    if "plaw" in url or "publiclaw" in url:
        return "plaw"
    return "other"


def extract_mentions(text: str) -> list[dict]:
    """All citation/URL mentions in a clean turn text.

    Returns dicts with keys ``mention_text, corpus, raw_key, start``.
    ``raw_key`` is the exact-match join key into the entity dictionary's
    alias list (linking happens later, SURVEY §2.3 join_entity_link).
    """
    out: list[dict] = []
    for m in _RE_CFR.finditer(text):
        out.append(
            {
                "mention_text": m.group(0),
                "corpus": "ecfr",
                "raw_key": f"cfr/title={m.group(1)}/part={m.group(2)}",
                "start": m.start(),
            }
        )
    for m in _RE_USC.finditer(text):
        out.append(
            {
                "mention_text": m.group(0),
                "corpus": "usc",
                "raw_key": f"usc/title={m.group(1)}/section={m.group(2)}",
                "start": m.start(),
            }
        )
    for m in _RE_CAL.finditer(text):
        out.append(
            {
                "mention_text": m.group(0),
                "corpus": "ca",
                "raw_key": f"ca/code={m.group(1).lower()}/section={m.group(2)}",
                "start": m.start(),
            }
        )
    for m in _RE_URL.finditer(text):
        url = m.group(0).rstrip(".,;")
        out.append(
            {
                "mention_text": url,
                "corpus": classify_link(url),
                "raw_key": f"url/{url}",
                "start": m.start(),
            }
        )
    out.sort(key=lambda d: (d["start"], d["raw_key"]))
    return out


# --------------------------------------------------------------------------
# Candidate-key ladder for entity linking — the analyze_partial_link backoff
# (reference pydanticModels.py:555-636): exact → popped-level → zero-padded.
# Reformulated as ranked equi-join keys instead of per-row SQL ILIKE retries.
# --------------------------------------------------------------------------


_RE_PADDABLE = re.compile(r"[0-9]{1,2}")


def candidate_keys(raw_key: str) -> list[tuple[int, str]]:
    """Ranked (priority, key) candidates; lower priority wins.

    1. exact raw key;
    2. zero-padded last number (reference pads section numbers on miss,
       pydanticModels.py:607-618);
    3. popped last level (reference pops trailing levels on miss,
       pydanticModels.py:595-605).

    Only 1-2 ASCII digits count as a paddable number (``str.isdigit`` would
    also take ``²`` or ``٣``). The payload kernel attaches rungs 2 and 3
    to every raw key it makes (``extract.ladder_rungs``).
    """
    cands: list[tuple[int, str]] = [(1, raw_key)]
    head, sep, last = raw_key.rpartition("/")
    if sep and "=" in last:
        cls, num = last.split("=", 1)
        intpart = num.split(".", 1)[0]
        if _RE_PADDABLE.fullmatch(intpart):
            padded = num.zfill(len(num) - len(intpart) + 3)
            cands.append((2, f"{head}/{cls}={padded}"))
        cands.append((3, head))
    return cands


# --------------------------------------------------------------------------
# Definition extraction — transcript analog of the definition state machine
# (reference scrapeECFR.py:530-837; rules spec definition_logic.txt:49-79).
# Three cases re-expressed for transcripts:
#   quoted:       “Term” means <definition>            (case 1/2: quoted term)
#   emphasized:   Term. <definition>   inside a Definitions. scope
#                 (case 3: emphasized-term line)
#   incorporated: ... "Term" ... as defined in <citation>   (incorporated
#                 terms, scrapeECFR.py:1435-1471 / IncorporatedTerms)
# --------------------------------------------------------------------------

_RE_QUOTED_DEF = re.compile(
    r"[“\"]([^”\"]{1,80})[”\"]\s+means\s+(.+?)(?=(?:\s+[“\"][^”\"]{1,80}[”\"]\s+means\s)|$)",
    re.S,
)
_RE_EMPH_DEF = re.compile(r"^([A-Z][A-Za-z][A-Za-z0-9 \-]{0,60}?)\.\s+(.{3,})$")
_RE_INCORP = re.compile(
    r"[“\"]([^”\"]{1,80})[”\"][^“\"]{0,80}?\bas defined in\s+(.+?)\s*[.;]?\s*$"
)

# Terms are normalized to lowercase before keying — reference lowercases
# defined terms (scrapeECFR.py:625,687,714).


def term_slug(term: str) -> str:
    return re.sub(r"\s+", "_", term.strip().lower())


# trailing subitem marker: a definition body ending with '(1)' / '(a)' etc.
# announces that the NEXT quoted definition is nested one level under it
# (reference subdefinition recursion, scrapeECFR.py:843-865;
# Definition.subdefinitions pydanticModels.py:138-165) — flattened here with
# parent-term provenance, one level deep. The enumerator must be preceded
# by whitespace: a statutory citation like 'section 12(a)' glues the paren
# to the number and is NOT a subitem marker (it would otherwise be
# truncated out of the definition body).
_RE_SUBMARK = re.compile(r"[,:;]?\s*(?:including[:,]?)?\s+\(\w{1,3}\)$")


def extract_definitions(text: str, in_definitions_scope: bool) -> list[dict]:
    """All definitions in a clean turn text.

    Returns dicts ``term, definition, kind, incorporated_from,
    parent_term``. The emphasized-term case only fires inside an open
    ``Definitions.`` scope — matching the reference, where case-3 parsing is
    entered only under a definitions section (scrapeECFR.py:530-560).
    ``parent_term`` is non-None for nested (sub)definitions: a quoted
    definition whose predecessor's body ends in a subitem marker like
    ``(1)``; chains ``(1) … (2) …`` all hang off the same top-level term
    (one level of nesting, flattened).
    """
    out: list[dict] = []
    incorp_spans: list[tuple[int, int]] = []
    for m in _RE_INCORP.finditer(text):
        out.append(
            {
                "term": term_slug(m.group(1)),
                "definition": None,
                "kind": "incorporated",
                "incorporated_from": m.group(2).strip(),
                "parent_term": None,
            }
        )
        incorp_spans.append(m.span())
    pending_parent: str | None = None
    for m in _RE_QUOTED_DEF.finditer(text):
        # an “X” … as defined in … match is not also a quoted definition
        if any(s <= m.start() < e for s, e in incorp_spans):
            continue
        term = term_slug(m.group(1))
        body = m.group(2).strip().rstrip(".")
        mark = _RE_SUBMARK.search(body)
        parent = pending_parent
        if mark:
            body = body[: mark.start()].rstrip(" ,:;")
        out.append(
            {
                "term": term,
                "definition": body,
                "kind": "quoted",
                "incorporated_from": None,
                "parent_term": parent,
            }
        )
        # a marker chains the next def under the SAME top-level term
        pending_parent = (parent if parent is not None else term) if mark else None
    if in_definitions_scope and not out:
        m = _RE_EMPH_DEF.match(text)
        if m and not _RE_HIER.match(text) and not is_definitions_header(text):
            out.append(
                {
                    "term": term_slug(m.group(1)),
                    "definition": m.group(2).strip().rstrip("."),
                    "kind": "emphasized",
                    "incorporated_from": None,
                    "parent_term": None,
                }
            )
    return out
