"""Per-turn output snapshot of the per-document extraction path.

320 seeded turns from the benchmark generator (``perfbench/gen.py``:
``web_pages(7, 160, 1_600_000)`` plus ``chat_turns(7, 160)``, i.e. pages,
share pages, chat fragments and PDFs) run through ``extract_one``, or
``extract_pdf_one`` for ``tool == "pdf"`` turns, exactly as the job's
Arrow UDF calls them.  Each turn's ``RESULT_SCHEMA`` fields, all but the
timing field ``parse_time_ms``, are hashed to one sha256 and compared
with the committed digest in ``tests/data/``, so a failure names the
turns whose output changed.

Any change to ``dom/``, ``extract/`` or ``spark/udf.py`` that is meant to
keep outputs identical must leave this test green.  When a change is
meant to alter outputs, regenerate the digest from the repository root
and commit it with the change::

    python tests/test_extraction_snapshot.py --write
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIGEST = os.path.join(ROOT, "tests", "data", "extraction_snapshot.json")
# Every output column except the wall-clock ``parse_time_ms``.
UNHASHED = ("parse_time_ms",)


def turn_digests() -> dict[str, str]:
    """``"conv_id/turn_idx"`` -> sha256 of the turn's canonical output."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import gen
    from trek_spark.spark.udf import (
        RESULT_SCHEMA, extract_one, extract_pdf_one)

    fields = [f.name for f in RESULT_SCHEMA.fields if f.name not in UNHASHED]
    out = {}
    for t in gen.web_pages(7, 160, 1_600_000) + gen.chat_turns(7, 160):
        doc = t.doc
        r = (extract_pdf_one(doc.text) if doc.tool == "pdf"
             else extract_one(doc.text, doc.url))
        blob = json.dumps({k: r[k] for k in fields}, sort_keys=True,
                          ensure_ascii=False, separators=(",", ":"))
        digest = hashlib.sha256(blob.encode("utf-8")).hexdigest()
        out[f"{t.conv_id}/{t.turn_idx}"] = digest
    return out


def test_per_turn_outputs_match_snapshot():
    with open(DIGEST, encoding="utf-8") as f:
        expected = json.load(f)
    got = turn_digests()
    assert len(got) == 320
    assert sorted(got) == sorted(expected), "turn keys changed"
    changed = sorted(k for k in got if got[k] != expected[k])
    assert not changed, f"{len(changed)} turns changed output: {changed[:20]}"


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_extraction_snapshot.py --write")
    os.makedirs(os.path.dirname(DIGEST), exist_ok=True)
    with open(DIGEST, "w", encoding="utf-8") as f:
        json.dump(turn_digests(), f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"wrote {DIGEST}")
