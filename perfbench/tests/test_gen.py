"""The generator is deterministic and plants the structure it states."""

from __future__ import annotations

import hashlib
import os

import gen

SPEC = gen.CorpusSpec(n_binaries=4, fns_per_binary=30, cycle_lengths=(2, 3))
TEXTS = gen.TextSpec(n_docs=200)


def _tree_digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _write(tmp_path, seed: int, name: str) -> str:
    root = tmp_path / name
    gen.write_documents(gen.make_corpus(seed, SPEC), str(root / "in"))
    gen.write_texts(gen.make_texts(seed, TEXTS)[0], str(root / "texts.jsonl"))
    return _tree_digest(str(root))


def test_same_seed_gives_byte_identical_files(tmp_path):
    assert _write(tmp_path, 7, "a") == _write(tmp_path, 7, "b")


def test_other_seed_gives_other_files(tmp_path):
    assert _write(tmp_path, 7, "a") != _write(tmp_path, 8, "b")


def test_planted_cycles_and_hubs():
    corpus = gen.make_corpus(3, SPEC)
    for b in corpus:
        assert [len(c) for c in b.cycles] == [2, 3]
        members = {a for c in b.cycles for a in c}
        iat = {a for _l, _n, a in b.imports}
        # cycle members call only their successor in the cycle or imports
        for src, dst, _o, _t in b.calls:
            if src in members:
                assert dst in members or dst in iat
    hub_names = {n for _l, n in gen.HUB_IMPORTS}
    imported = [sum(n in hub_names for _l, n, _a in b.imports) for b in corpus]
    assert sum(imported) >= len(corpus) * len(hub_names) // 2


def test_planted_duplicates_share():
    docs, planted = gen.make_texts(5, gen.TextSpec(n_docs=2000))
    texts = dict(docs)
    assert 0.07 < len(planted["near"]) / len(docs) < 0.13
    assert 0.03 < len(planted["exact"]) / len(docs) < 0.07
    for a, b in planted["exact"]:
        assert texts[a] == texts[b]
    for a, b in planted["near"]:
        wa, wb = texts[a].split(), texts[b].split()
        assert len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) == 1
