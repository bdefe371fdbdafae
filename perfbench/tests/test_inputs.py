"""The seeded input generators: same seed, same inputs; every wire
quirk the pipeline must survive is present."""

from __future__ import annotations

import collections
import datetime
import json
import os
from pathlib import Path

from perfbench.gen_corpus import EDIT_WORDS, make_corpus
from perfbench.gen_days import Diary
from perfbench.gen_tables import make_tables


def _payloads(d: str) -> dict[str, str]:
    return {p.name: p.read_text(encoding="utf-8") for p in sorted(Path(d).iterdir())}


def test_tables_depend_only_on_the_seed():
    a, b, c = make_tables(5, 0.001), make_tables(5, 0.001), make_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["events"].num_rows == 1000


def _diary(tmp_path, seed: int, name: str) -> Diary:
    diary = Diary(seed, str(tmp_path / name), datetime.date(2024, 1, 1), 20)
    for _ in range(365):
        diary.add_day()
    return diary


def test_days_depend_only_on_the_seed(tmp_path):
    a, b = _diary(tmp_path, 3, "a"), _diary(tmp_path, 3, "b")
    assert _payloads(a.dir) == _payloads(b.dir)
    assert _payloads(a.dir) != _payloads(_diary(tmp_path, 4, "c").dir)


def test_days_carry_every_wire_quirk(tmp_path):
    diary = _diary(tmp_path, 3, "d")
    kinds = collections.Counter(missing=365 - len(os.listdir(diary.dir)))
    for text in _payloads(diary.dir).values():
        try:
            body = json.loads(text)["food_entries"]
        except ValueError:
            kinds["malformed"] += 1
            continue
        if body is None:
            kinds["null"] += 1
            continue
        entries = body["food_entry"]
        if isinstance(entries, dict):
            kinds["single"] += 1
            entries = [entries]
        else:
            kinds["list"] += 1
        for e in entries:
            if "food_entry_id" not in e:
                kinds["no_id"] += 1
            elif not e["date_int"].isdigit():
                kinds["bad_date"] += 1
            elif e["calories"] == "n/a":
                kinds["non_numeric"] += 1
    assert all(kinds[k] > 0 for k in (
        "missing", "malformed", "null", "single", "list",
        "no_id", "bad_date", "non_numeric")), kinds


def test_edit_updates_the_expected_store(tmp_path):
    diary = _diary(tmp_path, 3, "e")
    day = next(d for d in diary.days if len(diary.valid[d]) > 5)
    before = dict(diary.valid[day])
    diary.edit_day(day)
    after = diary.valid[day]
    # three entries are rewritten and one is added; a rewritten or added
    # entry the pipeline drops (no id, bad date) changes nothing
    assert len(before) <= len(after) <= len(before) + 1
    assert 1 <= sum(after[fp] != before[fp] for fp in before) <= 3
    diary.synced(day, day)
    assert all(diary.store[fp] == row for fp, row in after.items())


def test_corpus_depends_only_on_the_seed():
    a, b, c = make_corpus(5, 500), make_corpus(5, 500), make_corpus(6, 500)
    assert a.equals(b) and not a.equals(c)
    assert sorted(a.column("doc_id").to_pylist()) == list(range(500))


def test_corpus_has_its_copies_and_near_duplicate_pairs():
    texts = make_corpus(5, 2000).column("text").to_pylist()
    # 5% exact copies; an edit that redraws the same word adds one more
    copies = sum(n - 1 for n in collections.Counter(texts).values())
    assert 100 <= copies <= 110
    by_len = collections.defaultdict(list)
    for t in set(texts):
        w = t.split()
        by_len[len(w)].append(w)
    near = 0
    for n, group in by_len.items():
        for i, x in enumerate(group):
            for y in group[i + 1:]:
                if 0 < sum(p != q for p, q in zip(x, y)) <= max(1, n // EDIT_WORDS):
                    near += 1
    # 5% of the documents in pairs: 50 pairs, less the few whose edit
    # redrew the same word
    assert 45 <= near <= 50
