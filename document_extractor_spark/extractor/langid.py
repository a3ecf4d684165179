"""Deterministic language identification — stopword + script heuristic.

The reference carries no language logic (its GPT-4V prompt is language
agnostic); the north-star output schema has a ``lang`` column, so the
engine provides a lightweight deterministic identifier: Unicode-script
detection for CJK/kana/hangul/Arabic/Cyrillic, stopword-hit scoring for
a closed set of Latin-script languages. Pure function; ties broken by
fixed language order for byte-stable output.

``detect_lang`` is the package's only language identifier: the
extractor calls it per page, and ``textstats.lang_id_udf`` maps it over
each Arrow batch. Each script class is counted by one compiled
character-class scan (``findall``), so no per-character Python runs.
"""

from __future__ import annotations

import re

_STOPWORDS = {
    "en": {"the", "and", "is", "of", "to", "in", "that", "it", "with", "as",
           "for", "was", "on", "are", "this", "be", "by", "an", "not", "or"},
    "de": {"der", "die", "das", "und", "ist", "nicht", "mit", "von", "auf",
           "für", "eine", "einem", "durch", "wenn", "aber", "über", "unter",
           "zwischen", "während", "im"},
    "fr": {"le", "la", "les", "et", "est", "dans", "pour", "une", "des",
           "que", "qui", "avec", "sur", "pas", "plus", "par", "mais",
           "comme", "tout", "du"},
    "es": {"el", "la", "los", "las", "es", "en", "de", "para", "una",
           "que", "con", "por", "no", "más", "pero", "como", "todo",
           "hacer", "durante", "y"},
}
_LANG_ORDER = ["en", "de", "fr", "es"]

_WORD_RE = re.compile(r"[^\W\d_]+", re.UNICODE)

_CJK = re.compile("[\u4e00-\u9fff]")
_KANA = re.compile("[\u3040-\u30ff]")
_HANGUL = re.compile("[\uac00-\ud7af]")
_ARABIC = re.compile("[\u0600-\u06ff]")
_CYRILLIC = re.compile("[\u0400-\u04ff]")


def _script_lang(text: str) -> str | None:
    """Script-class vote over the first 400 chars: a class wins with a
    share above 0.25, kana (with CJK) first, then hangul, CJK, Arabic,
    Cyrillic."""
    sample = text[:400]
    n = max(len(sample), 1)
    cjk = len(_CJK.findall(sample))
    kana = len(_KANA.findall(sample))
    if kana > 0 and (kana + cjk) / n > 0.25:
        return "ja"
    for lang, count in (("ko", len(_HANGUL.findall(sample))), ("zh", cjk),
                        ("ar", len(_ARABIC.findall(sample))),
                        ("ru", len(_CYRILLIC.findall(sample)))):
        if count / n > 0.25:
            return lang
    return None


def detect_lang(text: str, default: str = "und") -> str:
    """Language code of ``text``: its script class, else the Latin-script
    language with the most stopword hits (at least 2) in the first 2000
    chars, else ``default``."""
    if not text:
        return default
    script = _script_lang(text)
    if script is not None:
        return script
    words = [w.lower() for w in _WORD_RE.findall(text[:2000])]
    if not words:
        return default
    best_lang, best_hits = default, 0
    for lang in _LANG_ORDER:
        sw = _STOPWORDS[lang]
        hits = sum(1 for w in words if w in sw)
        if hits > best_hits:
            best_lang, best_hits = lang, hits
    return best_lang if best_hits >= 2 else default
