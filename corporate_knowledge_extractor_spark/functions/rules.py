"""Extraction rules shared by the Spark plan and the pandas P/R oracle.

The reference's synthesis stage is an LLM with a JSON contract
(/root/reference/config/prompts/knowledge_extraction.txt:50-71, called at
src/synthesize/gemini_backend.py:94-139). BASELINE.json replaces it with a
deterministic tokenizer + rule/pattern extractor. These regexes and maps
are the *single source of truth* for those rules: the Spark operators
compile them into native `regexp_extract` columns and the oracle compiles
them with `re` — byte-identical semantics is what makes P/R ≥ 0.95
achievable (SURVEY.md §7 "exact tie-breaking parity" risk).

Only regex constructs with identical meaning in Java (Spark) and Python
(`re`) are used: literals, `\\w \\d \\s`, classes, groups, anchors.
"""

from __future__ import annotations

# --- mention detection (candidate detection stage; reference analogue:
# frame extraction src/frames/extractor.py:29-201) -----------------------

RE_IMPORT = r"^import ([A-Za-z_][\w\.]*)"
RE_FROM_IMPORT = r"^from ([A-Za-z_][\w\.]*) import ([A-Za-z_]\w*)"
RE_DEF = r"^def ([A-Za-z_]\w*)\("
RE_CALL = r"^\s+\w+ = ([A-Za-z_]\w*)\("
RE_PERSON_COMMENT = r"^# Maintainer: (.+)$"

# Deterministic ordering of mention types for same-line tie-breaking
# (a `from X import Y` line yields two mentions). Mirrors the reference's
# first-seen-wins list-order semantics (src/output/post_processor.py:209-217).
MENTION_TYPE_ORDER = {
    "import": 0,
    "import_symbol": 1,
    "function_def": 2,
    "call": 3,
    "person": 4,
}

# --- junk block filter (reference: junk frame/slide filters,
# src/frames/extractor.py:369-396 + src/output/post_processor.py:73-100,
# patterns config/filters.yaml:115-148) ----------------------------------

JUNK_BLOCK_PATTERNS = (
    "thank you",
    "copyright",
    "all rights reserved",
    "auto-generated",
    "do not edit",
)

# --- category assignment (reference: keyword-count argmax,
# src/output/post_processor.py:178-201, keywords config/categories.yaml:34-103).
# Ordered dict: ties resolved by first-listed category, zero score -> "general"
# (post_processor.py:190-199 keeps "general" unless score strictly greater). --

CATEGORY_KEYWORDS = (
    ("data", ("data", "cache", "record", "batch", "table", "index")),
    ("auth", ("user", "token")),
    ("io", ("file", "stream", "load", "save", "fetch", "push")),
    ("compute", ("parse", "build", "run", "merge", "split", "check", "query",
                 "graph", "node", "edge")),
)
DEFAULT_CATEGORY = "general"

# --- redaction (reference: src/anonymize/anonymizer.py:8-61; order is
# names -> emails -> phones -> custom terms and MUST be preserved) --------

# Deterministic NER stand-in: the synthetic corpus draws person names from
# known lists (corpus.FIRST_NAMES x LAST_NAMES); a dictionary regex replaces
# spaCy PERSON detection (anonymizer.py:29-33) with identical masking output.
RE_PERSON_NAME = (
    r"(Alice|Bob|Carol|Dave|Erin|Frank|Grace|Heidi)"
    r" (Smith|Jones|Chen|Garcia|Patel|Kim|Novak|Okafor)"
)
RE_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"  # anonymizer.py:38
RE_PHONE = r"\+?[\d][\d\s\-\(\)]{8,}[\d\)]"  # anonymizer.py:46, anchored to digits
MASK_PERSON = "[PERSON]"
MASK_EMAIL = "[EMAIL]"
MASK_PHONE = "[PHONE]"


def categorize_text(text: str) -> str:
    """Reference-semantics keyword argmax (post_processor.py:189-199)."""
    best, best_score = DEFAULT_CATEGORY, 0
    for cat, kws in CATEGORY_KEYWORDS:
        score = sum(1 for kw in kws if kw in text)
        if score > best_score:
            best, best_score = cat, score
    return best

