"""Deterministic vocabulary for the synthetic transcript corpus.

The input table mandated by BASELINE.json is an Iceberg/parquet table of
multi-turn transcripts ``(conv_id, turn_idx, role, text, tool, ts)``.
The reference consumes Wikidata entities; here the same *semantics*
(dictionary-gated mention detection, claim typing, label cleaning) are
exercised over synthetic conversations whose statements embed entity
surface forms and predicate phrases.

Three disjoint word pools keep extraction unambiguous and therefore
SQL-expressible for the DuckDB oracle:

- entity-name words (ADJ x NOUN two-word names),
- predicate-phrase words,
- noise words (incl. unicode / quotes / backslashes per FIXTURES.md).

Label cleaning mirrors reference ingestion/recursive_hops_ingestion.py:53-55:
strip ``[^a-zA-Z0-9 \\n\\.]``, spaces -> ``_``, literal ``"3"`` -> ``"three"``.
"""

from __future__ import annotations

import re

SEED = 42
N_ENTITIES = 400
PLACE_FRACTION = 0.3  # entities with coordinates -> node_type 'Place'
ZIPF_S = 1.1  # mention-frequency skew (hot landmarks/persons)

# the transcript table (generated corpus, streaming sources)
TRANSCRIPT_SCHEMA = ("conv_id string, turn_idx int, role string, "
                     "text string, tool string, ts timestamp_ntz")

# --- entity name pools (disjoint from PRED/NOISE words) -------------------
ADJECTIVES = [
    "amber", "ancient", "azure", "bronze", "carved", "coastal", "crimson",
    "crystal", "eastern", "gilded", "golden", "grand", "hidden", "iron",
    "ivory", "jade", "lunar", "marble", "misty", "northern", "obsidian",
    "painted", "royal", "ruined", "sacred", "silent", "silver", "solar",
    "southern", "stone", "sunken", "twin", "velvet", "western", "windy",
    "wooden", "emerald", "frozen", "amberlit", "starlit",
]
NOUNS = [
    "tower", "bridge", "museum", "cathedral", "palace", "fortress",
    "garden", "harbor", "library", "market", "monastery", "plaza",
    "aqueduct", "amphitheater", "basilica", "citadel", "colonnade",
    "courtyard", "gallery", "gate", "lighthouse", "mill", "monument",
    "obelisk", "observatory", "pavilion", "pier", "quarry", "rampart",
    "sanctuary", "spire", "terrace", "vault", "viaduct", "windmill",
    "archive", "chapel", "cloister", "dome", "keep",
]

# --- predicate dimension (pid, phrase-in-text, raw label) ------------------
# raw labels exercise the P7 cleaning rules (punctuation, digits, spaces).
PREDICATES = [
    ("P1", "is located in", "located in"),
    ("P2", "was created by", "created by"),
    ("P3", "honors", "honors"),
    ("P4", "depicts", "depicts"),
    ("P5", "belongs to", "belongs to"),
    ("P6", "commemorates", "commemorates"),
    ("P7", "was restored by", "restored by"),
    ("P8", "overlooks", "overlooks"),
    ("P9", "was commissioned by", "commissioned by"),
    ("P10", "replaced", "replaced"),
    ("P11", "inspired", "inspired"),
    ("P12", "adjoins", "adjoins (3rd ed.)"),  # cleaning: -> adjoins_threerd_ed.
]

# locale labels for a subset of predicates (reference harvests property
# labels in en + {fr, pt, es} and falls back to English when a locale is
# missing, recursive_hops_ingestion.py:35-60; edges carry the
# multilingual map, db_connection.py:189-200). ASCII by construction so
# the P7 cleaning regex is a no-op on them.
PRED_LOCALES = {
    "P1": {"fr": "situe dans", "pt": "localizado em", "es": "ubicado en"},
    "P2": {"fr": "cree par", "pt": "criado por", "es": "creado por"},
    "P4": {"fr": "represente", "pt": "retrata", "es": "representa"},
    "P8": {"fr": "surplombe"},  # pt/es fall back to English
    "P10": {"es": "reemplazo"},  # fr/pt fall back
}

# claim-property raw labels for alias_dim.props keys (also P7-cleaned)
CLAIM_PROPS = [
    ("C1", "instance of"),
    ("C2", "heritage status"),
    ("C3", "architect #3"),  # -> architect_three
    ("C4", "founded era"),
]

# --- noise pool (never matches an alias or predicate phrase) ---------------
NOISE_WORDS = [
    "ok", "thanks", "hmm", "right", "sure", "noted", "checking", "done",
    "indeed", "perhaps", "certainly", "moment", "looking", "found",
    "interesting", "café", "naïve", "résumé", "über",
    '"quoted"', "a\\b", "it's", "well", "see", "below", "above", "again",
    "soon", "today", "yesterday", "meanwhile",
]

ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "lookup", None]

_CLEAN_RE = re.compile(r"[^a-zA-Z0-9 \n\.]")


def clean_label(raw: str) -> str:
    """P7 predicate-label cleaning, exact order per reference
    ingestion/recursive_hops_ingestion.py:53-55."""
    label = _CLEAN_RE.sub("", raw)
    label = label.replace(" ", "_")
    label = label.replace("3", "three")
    return label


def entity_name(i: int) -> str:
    """Deterministic two-word canonical label for entity i."""
    a = ADJECTIVES[i % len(ADJECTIVES)]
    n = NOUNS[(i // len(ADJECTIVES)) % len(NOUNS)]
    suffix = i // (len(ADJECTIVES) * len(NOUNS))
    name = f"{a} {n}"
    if suffix:
        name = f"{name} {['second', 'third', 'fourth'][suffix % 3]}"
    return name


def entity_qid(i: int) -> str:
    return f"Q{100 + i}"


PRED_PHRASES = [p for (_, p, _) in PREDICATES]
# longest-first so regex alternation is deterministic in both engines
PRED_PHRASES_SORTED = sorted(PRED_PHRASES, key=len, reverse=True)
STATEMENT_PATTERN = (
    "^(.+?) (" + "|".join(re.escape(p) for p in PRED_PHRASES_SORTED) + ") (.+?)$"
)
