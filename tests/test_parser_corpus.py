"""Pins the zed parser's output on a corpus of query texts.

`tests/fixtures/parser_corpus.json` was recorded while the engine had
two parsers: one produced the compiler's tuple AST (`parse`), the
other the reference-shaped dict AST that `POST /compile` returns and
zfmt prints. Both now come from one parser, `parse_ast` plus `lower`.
Every recorded result must still hold, except the entries listed under
`disagreements`, each with the reason it changed.

For `parse` the error class and message are pinned too. For the dict
AST and its canonical print only the fact of an error is pinned: their
messages now come from the shared parser.
"""

import json
from pathlib import Path

import pytest

from zed_spark.lang.parser import parse, parse_ast
from zed_spark.lang.zfmt import canonical

_FIXTURE = json.loads(
    (Path(__file__).parent / "fixtures" / "parser_corpus.json").read_text()
)
_ENTRIES = _FIXTURE["entries"]
_DISAGREE = _FIXTURE["disagreements"]


def _run(fn, text):
    try:
        return {"ok": fn(text)}
    except Exception as e:  # the recorded outcome may be any error
        return {"err": [type(e).__name__, str(e)]}


def _results(text):
    p = _run(parse, text)
    r = _run(parse_ast, text)
    return {
        "parse": {"ok": repr(p["ok"])} if "ok" in p else p,
        "parse_raw": {"ok": json.dumps(r["ok"], default=str)} if "ok" in r else r,
        "canonical": _run(canonical, text),
    }


@pytest.mark.parametrize(
    "entry", _ENTRIES, ids=[str(i) for i in range(len(_ENTRIES))]
)
def test_corpus_entry(entry):
    text = entry["query"]
    skip = set(_DISAGREE.get(text, {}).get("fields", ()))
    got = _results(text)
    for field in ("parse", "parse_raw", "canonical"):
        if field in skip:
            continue
        want = entry[field]
        if field != "parse" and "err" in want:
            assert "err" in got[field], (field, text, got[field])
            continue
        assert got[field] == want, (field, text)


def test_disagreements_are_real_and_explained():
    """Each listed disagreement names a corpus query, a reason, and a
    field whose result really changed."""
    by_text = {e["query"]: e for e in _ENTRIES}
    for text, d in _DISAGREE.items():
        assert text in by_text, text
        assert d["reason"].strip(), text
        got = _results(text)
        for field in d["fields"]:
            assert got[field] != by_text[text][field], (field, text)

