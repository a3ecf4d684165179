"""Label guard for the language identifier.

``detect_lang``'s label is pinned for every text of five sets: the
extracted texts of the fixture rows, generated corpus pages, a few
hand-written samples, strings built around each script range's edge
codepoints and the 0.25 vote threshold, and seeded random strings that
mix ASCII words, Cyrillic, Arabic, kana, CJK, hangul, astral emoji and
lone surrogates. The labels live in ``tests/golden/langid_labels.json``;
any change to any label fails the test.

Regenerate the fixture only for a deliberate behaviour change:

    PYTHONPATH=. python tests/test_langid_labels.py --write
"""

from __future__ import annotations

import json
import os
import random
import sys

from document_extractor_spark.extractor.core import extract_payload
from document_extractor_spark.extractor.langid import detect_lang
from document_extractor_spark.sources.generator import (
    corpus_rows,
    fixture_rows,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "golden",
                      "langid_labels.json")

#: (first, last) codepoint of each script class the vote counts
_SCRIPT_EDGES = ((0x4E00, 0x9FFF), (0x3040, 0x30FF), (0xAC00, 0xD7AF),
                 (0x0600, 0x06FF), (0x0400, 0x04FF))

_WORDS = ("the", "and", "is", "of", "to", "der", "und", "nicht", "le",
          "les", "et", "el", "los", "y", "más", "für", "über", "word",
          "data", "x1", "42", "_", "Ünïcödé")

_POOLS = (
    [chr(c) for lo, hi in _SCRIPT_EDGES for c in (lo - 1, lo, hi, hi + 1)],
    [chr(c) for c in range(0x0400, 0x0500)],       # Cyrillic
    [chr(c) for c in range(0x0600, 0x0700)],       # Arabic
    [chr(c) for c in range(0x3040, 0x3100)],       # kana
    [chr(c) for c in range(0x4E00, 0x4F00)],       # CJK
    [chr(c) for c in range(0xAC00, 0xAD00)],       # hangul
    [chr(c) for c in range(0x1F300, 0x1F340)],     # astral emoji
    [chr(c) for c in range(0xD800, 0xDFFF, 97)],   # lone surrogates
    [chr(c) for c in range(0x20, 0x7F)],           # printable ASCII
)

RANDOM_TEXTS = 4000


def _samples() -> list:
    return [
        "", None, "\x00\x00", "a b", "the and", "the and is",
        "это русский текст кириллица здесь преобладает явно и всюду",
        "한국어 본문 음절 글자 비율이 높습니다 한국어 본문 글자",
        "word " * 500 + "the and is of to in",   # stopwords past the cutoff
        "the and is of to in " + "word " * 500,
        "mixed 中文 characters but mostly english the and is of to",
    ]


def _boundary_texts() -> list:
    """Each edge codepoint and its outside neighbour at 25 and 26 of 100
    characters (the vote needs a share above 0.25), alone, after 400
    characters of filler and mixed with kana."""
    out = []
    for lo, hi in _SCRIPT_EDGES:
        for cp in (lo - 1, lo, lo + 1, hi - 1, hi, hi + 1):
            for k in (25, 26, 100):
                body = chr(cp) * k + "x" * (100 - k)
                out += [body, "y" * 400 + body, "あ" + body[:-1],
                        body.replace("x", " the and")]
    return out


def _random_texts() -> list:
    rnd = random.Random(20261019)
    out = []
    for _ in range(RANDOM_TEXTS):
        parts = []
        for _ in range(rnd.randint(0, 30)):
            if rnd.random() < 0.4:
                parts.append(" ".join(rnd.choice(_WORDS)
                                      for _ in range(rnd.randint(1, 12))))
            else:
                pool = rnd.choice(_POOLS)
                parts.append("".join(rnd.choice(pool)
                                     for _ in range(rnd.randint(1, 60))))
        out.append(rnd.choice(("", " ", "\n")).join(parts))
    return out


def text_groups() -> dict:
    """group name -> list of texts, in a fixed order."""
    return {
        "fixtures": [extract_payload(r["html"], url=r["url"])
                     ["extracted_text"] for r in fixture_rows()],
        "corpus": [(r.get("html") or b"").decode("utf-8", "replace")[:3000]
                   for r in corpus_rows(120, seed=5)],
        "samples": _samples(),
        "boundary": _boundary_texts(),
        "random": _random_texts(),
    }


def labels() -> dict:
    return {name: [detect_lang(t) for t in texts]
            for name, texts in text_groups().items()}


def test_detect_lang_labels():
    with open(GOLDEN, encoding="utf-8") as f:
        expected = json.load(f)
    groups = text_groups()
    assert sorted(groups) == sorted(expected)
    bad = [(name, i, (t or "")[:40], want, detect_lang(t))
           for name, texts in groups.items()
           for i, (t, want) in enumerate(zip(texts, expected[name]))
           if detect_lang(t) != want]
    assert not bad, f"{len(bad)} labels changed, first: {bad[:5]}"
    assert all(len(groups[n]) == len(expected[n]) for n in groups)


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit(__doc__)
    with open(GOLDEN, "w", encoding="utf-8") as f:
        f.write("{\n" + ",\n".join(
            f" {json.dumps(k)}: {json.dumps(v)}"
            for k, v in sorted(labels().items())) + "\n}\n")
