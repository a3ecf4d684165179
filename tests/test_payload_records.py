"""Record golden for ``extract_payload``, HTML and PDF alike.

Every page of three sets (the fixture rows and two seeded generated
corpora, 4,021 pages, 185 of them PDFs) is extracted with three flag
sets: the lean record, items + layout, and items + layout + chrome. The
three records of a page are serialized as JSON, so key order, ``int`` vs
``float`` and ``bool`` vs ``int`` all count, and hashed together. The
first 16 hex digits of each page's sha256 are pinned per url in
``tests/golden/payload_records.json``.

Regenerate the fixture only for a deliberate behaviour change:

    PYTHONPATH=. python tests/test_payload_records.py --write
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import sys

from document_extractor_spark.extractor.core import (
    _EMPTY_LAYOUT,
    extract_payload,
)
from document_extractor_spark.extractor.html_extract import Item
from document_extractor_spark.operators.extract import ITEM_TYPE, LAYOUT_TYPE
from document_extractor_spark.sources.generator import (
    corpus_rows,
    fixture_rows,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "golden",
                      "payload_records.json")

#: (include_items, include_layout, emit_chrome)
FLAG_SETS = ((False, False, False), (True, True, False), (True, True, True))


def page_sets() -> dict:
    """set name -> rows, in a fixed order (urls repeat across seeds)."""
    return {"fixtures": fixture_rows(),
            "corpus/seed11": list(corpus_rows(3000, seed=11)),
            "corpus/seed5": list(corpus_rows(1000, seed=5))}


def record_digest(row: dict) -> str:
    recs = [extract_payload(row["html"], url=row["url"], include_items=i,
                            include_layout=lay, emit_chrome=chrome)
            for i, lay, chrome in FLAG_SETS]
    blob = json.dumps(recs, ensure_ascii=False).encode("utf-8",
                                                       "surrogatepass")
    return hashlib.sha256(blob).hexdigest()[:16]


def set_digests() -> dict:
    return {name: {r["url"]: record_digest(r) for r in rows}
            for name, rows in page_sets().items()}


def test_item_and_layout_records_match_spark_schema():
    """A content-item record is ``Item``'s fields in declaration order,
    and a layout record is ``_EMPTY_LAYOUT`` overlaid: both must line up
    with the Spark struct they are serialized into."""
    assert ITEM_TYPE.elementType.names == \
        [f.name for f in dataclasses.fields(Item)]
    assert LAYOUT_TYPE.names == list(_EMPTY_LAYOUT)


def test_payload_record_digests():
    with open(GOLDEN, encoding="utf-8") as f:
        expected = json.load(f)
    got = set_digests()
    assert {k: len(v) for k, v in got.items()} == \
        {k: len(v) for k, v in expected.items()}
    bad = [url for name in expected for url, h in expected[name].items()
           if got[name].get(url) != h]
    assert not bad, f"{len(bad)} records changed, e.g. {bad[:5]}"


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit(__doc__)
    with open(GOLDEN, "w", encoding="utf-8") as f:
        json.dump(set_digests(), f, indent=0, sort_keys=True)
        f.write("\n")
