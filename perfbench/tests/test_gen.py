"""Generator determinism and input shares."""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _digest(tables) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        h.update(tables[name].to_json(orient="split", date_unit="us").encode())
    return h.hexdigest()


def test_wiki_lines_are_byte_identical_for_a_seed():
    offsets, _ = gen.schedule_offsets([(400, 2), (4000, 0.5)])
    a = gen.wiki_lines(7, offsets)
    assert a == gen.wiki_lines(7, offsets)
    assert a != gen.wiki_lines(8, offsets)


def test_wiki_lines_mix_every_category():
    offsets, _ = gen.schedule_offsets([(1000, 5)])
    lines = gen.wiki_lines(3, offsets)
    parsed, malformed = [], 0
    for line in lines:
        try:
            parsed.append(json.loads(line))
        except json.JSONDecodeError:
            malformed += 1
    n = len(lines)
    assert abs(malformed / n - gen.WIKI_SHARES["malformed"]) < 0.01
    types = {e["type"] for e in parsed}
    assert types == set(gen.WIKI_TYPE_SHARES)
    assert any("dt" not in e["meta"] for e in parsed)
    assert any("bot" not in e for e in parsed)
    assert any(e["type"] in ("edit", "new") and "length" not in e for e in parsed)
    assert any("log_params" in e for e in parsed)
    keys = [(e["meta"].get("dt"), e["user"], e["title"]) for e in parsed if e["type"] in ("edit", "new")]
    assert len(keys) - len(set(keys)) > 0.03 * n  # duplicate natural keys


def test_schedule_offsets_are_evenly_spaced_per_step():
    offsets, starts = gen.schedule_offsets([(400, 1), (4000, 0.5)])
    assert starts == [0, 400] and len(offsets) == 2400
    assert offsets[1] - offsets[0] == pytest.approx(1 / 400)
    assert offsets[400] == 1.0 and offsets[401] - offsets[400] == pytest.approx(1 / 4000)


def test_documents_and_near_dups_are_deterministic():
    a = gen.with_near_dups(gen.documents(5, 200), 5)
    b = gen.with_near_dups(gen.documents(5, 200), 5)
    assert a.equals(b)
    assert list(a.doc_id) == list(range(len(a)))
    copies = a[a.text.str.endswith(gen.NEAR_DUP_SUFFIX)]
    assert len(copies) == round(gen.NEAR_DUP_SHARE * 200)
    originals = set(a.text) - set(copies.text)
    assert all(t[: -len(gen.NEAR_DUP_SUFFIX)] in originals for t in copies.text)
    assert not a.equals(gen.with_near_dups(gen.documents(6, 200), 6))


def test_near_dup_copies_reach_every_micro_batch():
    # the replay splits the documents into equal chunks in doc_id order
    docs = gen.with_near_dups(gen.documents(9, 700), 9)
    is_copy = docs.sort_values("doc_id").text.str.endswith(gen.NEAR_DUP_SUFFIX).to_numpy()
    for chunk in np.array_split(is_copy, 7):
        assert 0.1 < chunk.mean() < 0.4


def test_query_tables_are_deterministic_and_complete(tmp_path):
    a, b = gen.query_tables(11), gen.query_tables(11)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(gen.query_tables(12))
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    gen.write_tables(a, str(tmp_path / "x"))
    gen.write_tables(b, str(tmp_path / "y"))
    for name in a:
        fx = (tmp_path / "x" / f"{name}.parquet").read_bytes()
        fy = (tmp_path / "y" / f"{name}.parquet").read_bytes()
        assert fx == fy, name
