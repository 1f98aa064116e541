"""Seeded input generator for the benchmark.

Writes reference-format analysis JSON (one document per binary, the
FIXTURES.md §1 format) and a JSONL text corpus.  Pure Python, no Spark:
the same ``(spec, seed)`` always produces byte-identical files, and the
planted structure has answers the checker (``oracle.py``) can compute
independently:

- **hub imports** — a handful of APIs imported by most binaries, so a
  ``callers`` request on one of them fans out across the corpus while
  most requests touch small frontiers;
- **indirect cycles** of stated lengths — closed call chains whose
  members call nothing outside the cycle except imports, so each cycle
  is exactly one strongly connected component;
- **direct recursion** — a few self-calls;
- **known tokens** in strings and function names, for the search paths;
- **near-duplicate and exact-duplicate documents** in a stated share of
  the text corpus.

Addresses are written in canonical ``0x`` lower-case hex and are unique
within a binary, so every call resolves and every uid is predictable.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

#: APIs imported by most binaries (library, name).
HUB_IMPORTS = (
    ("kernel32.dll", "CreateFileA"),
    ("kernel32.dll", "ReadFile"),
    ("kernel32.dll", "WriteFile"),
    ("kernel32.dll", "VirtualAlloc"),
    ("ws2_32.dll", "connect"),
    ("ws2_32.dll", "send"),
    ("advapi32.dll", "RegOpenKeyExA"),
    ("advapi32.dll", "CryptEncrypt"),
)

#: Name stems for internal functions; search requests use them as patterns.
FN_STEMS = (
    "crypt", "net", "file", "reg", "proc", "mem", "parse", "hash",
    "sock", "thread", "timer", "config", "log", "util", "init", "shell",
)

#: Tokens planted in strings; search requests use them as patterns.
STRING_TOKENS = (
    "Bitcoin", "wallet", "password", "http", "Mozilla", "cmd.exe",
    "SOFTWARE", "temp", "update", "token", "proxy", "mutex",
)

_WORDS = (
    "alpha", "beta", "gamma", "delta", "omega", "kappa", "sigma", "theta",
    "error", "value", "index", "buffer", "handle", "stream", "packet",
    "server", "client", "module", "object", "record", "window", "engine",
)

TEXT_VOCAB_SIZE = 1500

_CALL_TYPES = ("direct", "direct", "direct", "indirect", "virtual", "tail")

FN_BASE = 0x401000
IAT_BASE = 0x500000
STR_BASE = 0x600000
EXPORT_BASE = 0x700000


#: internal forward calls per function (targets within a short window)
OUT_DEGREE = 2
STRINGS_PER_BINARY = 12
#: share of binaries that import each hub API
HUB_SHARE = 0.8
#: rare imports per binary, drawn from a shared long-tail pool
RARE_IMPORTS = 3
#: probability that a non-cycle function calls itself
SELF_CALL_P = 0.02

WORDS_PER_DOC = 60
#: share of documents that are a copy of an earlier one with one word
#: replaced (Jaccard of word 3-shingles ≈ 0.85–0.95)
NEAR_DUP_SHARE = 0.1
#: share of documents that are byte-identical copies of an earlier one
EXACT_DUP_SHARE = 0.05


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one generated analysis-JSON corpus."""

    n_binaries: int
    fns_per_binary: int
    #: planted indirect-cycle lengths, in every binary
    cycle_lengths: tuple[int, ...] = (2, 3, 4, 5)


@dataclass(frozen=True)
class TextSpec:
    """Shape of one generated text corpus."""

    n_docs: int


@dataclass
class Binary:
    """One generated analysis document, kept for the checker."""

    sha256: str
    name: str
    file_size: int
    #: internal functions: (address, name, size)
    functions: list[tuple[str, str, int]] = field(default_factory=list)
    #: imports: (library, name, iat_address)
    imports: list[tuple[str, str, str]] = field(default_factory=list)
    #: exports: (name, address)
    exports: list[tuple[str, str]] = field(default_factory=list)
    #: strings: (value, address)
    strings: list[tuple[str, str]] = field(default_factory=list)
    #: calls: (from_address, to_address, offset, type)
    calls: list[tuple[str, str, str, str]] = field(default_factory=list)
    #: planted indirect cycles, as lists of function addresses
    cycles: list[list[str]] = field(default_factory=list)

    def document(self) -> dict:
        return {
            "binary_info": {
                "name": self.name,
                "file_path": f"C:\\samples\\{self.name}",
                "file_size": self.file_size,
                "file_type": {"type": "PE32", "architecture": "x86_64"},
                "hashes": {"sha256": self.sha256},
            },
            "functions": [
                {"name": n, "address": a, "size": s} for a, n, s in self.functions
            ],
            "strings": [
                {"value": v, "address": a, "length": len(v), "type": "ascii"}
                for v, a in self.strings
            ],
            "imports": [
                {"name": n, "address": a, "library": lib} for lib, n, a in self.imports
            ],
            "exports": [
                {"name": n, "address": a, "ordinal": i + 1}
                for i, (n, a) in enumerate(self.exports)
            ],
            "calls": [
                {"from_address": f, "to_address": t, "offset": o, "type": ty}
                for f, t, o, ty in self.calls
            ],
        }


def _hex(v: int) -> str:
    return f"0x{v:x}"


def _sha(*parts) -> str:
    return hashlib.sha256(":".join(str(p) for p in parts).encode()).hexdigest()


def _shared_strings(seed: int) -> list[str]:
    """A pool of string values that several binaries contain."""
    rng = random.Random(f"shared-strings:{seed}")
    pool = []
    for k in range(40):
        tok = STRING_TOKENS[k % len(STRING_TOKENS)]
        pool.append(f"{tok} {rng.choice(_WORDS)} {rng.choice(_WORDS)} s{k}")
    return pool


def make_binary(seed: int, index: int, spec: CorpusSpec) -> Binary:
    """Generate binary ``index`` of the corpus for ``seed``."""
    rng = random.Random(f"binary:{seed}:{index}")
    sha = _sha("bin", seed, index)
    b = Binary(sha256=sha, name=f"sample_{index:05d}.exe", file_size=0)
    n_fn = spec.fns_per_binary
    n_dag = n_fn - sum(spec.cycle_lengths)
    if n_dag < 2:
        raise ValueError("fns_per_binary too small for the planted cycles")

    addrs = [_hex(FN_BASE + 0x40 * j) for j in range(n_fn)]
    for j in range(n_fn):
        stem = FN_STEMS[rng.randrange(len(FN_STEMS))]
        name = "main" if j == 0 else f"{stem}_b{index}_f{j}"
        b.functions.append((addrs[j], name, 16 + rng.randrange(2000)))

    for lib, api in HUB_IMPORTS:
        if rng.random() < HUB_SHARE:
            b.imports.append((lib, api, ""))
    for _ in range(RARE_IMPORTS):
        r = rng.randrange(400)
        imp = (f"lib{r % 37}.dll", f"api_{r}", "")
        if imp not in b.imports:
            b.imports.append(imp)
    b.imports = [
        (lib, api, _hex(IAT_BASE + 8 * k)) for k, (lib, api, _) in enumerate(b.imports)
    ]
    b.exports.append((f"export_b{index}", _hex(EXPORT_BASE)))

    shared = _shared_strings(seed)
    for k in range(STRINGS_PER_BINARY):
        if rng.random() < 0.3:
            value = shared[rng.randrange(len(shared))]
        else:
            tok = STRING_TOKENS[rng.randrange(len(STRING_TOKENS))]
            value = f"{rng.choice(_WORDS)} {tok} {rng.choice(_WORDS)} b{index}s{k}"
        b.strings.append((value, _hex(STR_BASE + 0x20 * k)))

    offset = [0]

    def call(src: int, dst_addr: str) -> None:
        offset[0] += 1
        b.calls.append(
            (
                addrs[src],
                dst_addr,
                _hex(FN_BASE + 0x40 * src + offset[0] % 0x40),
                _CALL_TYPES[rng.randrange(len(_CALL_TYPES))],
            )
        )

    imp_addrs = [a for _, _, a in b.imports]
    window = 8
    for j in range(n_dag):
        targets = set()
        for _ in range(OUT_DEGREE):
            hi = min(n_fn - 1, j + window)
            if hi > j:
                targets.add(rng.randint(j + 1, hi))
        for t in sorted(targets):
            call(j, addrs[t])
        if imp_addrs and rng.random() < 0.3:
            call(j, imp_addrs[rng.randrange(len(imp_addrs))])
        if j > 0 and rng.random() < SELF_CALL_P:
            call(j, addrs[j])

    start = n_dag
    for length in spec.cycle_lengths:
        members = list(range(start, start + length))
        b.cycles.append([addrs[m] for m in members])
        for k, m in enumerate(members):
            call(m, addrs[members[(k + 1) % length]])
            if imp_addrs and rng.random() < 0.5:
                call(m, imp_addrs[rng.randrange(len(imp_addrs))])
        start += length

    b.file_size = 4096 * (1 + n_fn)
    return b


def make_corpus(seed: int, spec: CorpusSpec) -> list[Binary]:
    return [make_binary(seed, i, spec) for i in range(spec.n_binaries)]


def write_documents(binaries: list[Binary], out_dir: str, *, tag: str = "") -> list[str]:
    """One JSON file per binary; returns the paths in write order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for b in binaries:
        p = os.path.join(out_dir, f"{b.name}{tag}.json")
        with open(p, "w", encoding="utf-8") as fh:
            json.dump(b.document(), fh, sort_keys=True, separators=(",", ":"))
        paths.append(p)
    return paths


# ------------------------------------------------------------------ text


def text_vocab() -> list[str]:
    """Deterministic lower-case vocabulary (no seed: the seed only picks)."""
    consonants, vowels = "bcdfghklmnprstvz", "aeiou"
    words = []
    for i in range(TEXT_VOCAB_SIZE):
        n, w = i, ""
        for _ in range(3):
            w += consonants[n % 16] + vowels[(n // 16) % 5]
            n //= 80
        words.append(w + str(i % 7))
    return words


def make_texts(seed: int, spec: TextSpec) -> tuple[list[tuple[int, str]], dict]:
    """Documents ``(doc_id, text)`` plus the planted structure:
    ``{"near": [(orig, copy)], "exact": [(orig, copy)]}``.

    Words follow a Zipf-like draw over the vocabulary, single-space
    separated and lower-case, so whitespace tokenization is unambiguous.
    """
    rng = random.Random(f"texts:{seed}")
    vocab = text_vocab()
    weights = [1.0 / (r + 1) for r in range(len(vocab))]
    docs: list[tuple[int, str]] = []
    planted = {"near": [], "exact": []}
    originals: list[int] = []
    for i in range(spec.n_docs):
        doc_id = 1000 + i
        u = rng.random()
        if originals and u < EXACT_DUP_SHARE:
            src = rng.choice(originals)
            docs.append((doc_id, docs[src - 1000][1]))
            planted["exact"].append((src, doc_id))
        elif originals and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src = rng.choice(originals)
            words = docs[src - 1000][1].split(" ")
            words[rng.randrange(len(words))] = f"edit{seed % 1000}x{doc_id}"
            docs.append((doc_id, " ".join(words)))
            planted["near"].append((src, doc_id))
        else:
            words = rng.choices(vocab, weights=weights, k=WORDS_PER_DOC)
            # a unique tail keeps independent documents apart
            words.append(f"doc{doc_id}")
            docs.append((doc_id, " ".join(words)))
            originals.append(doc_id)
    return docs, planted


def write_texts(docs: list[tuple[int, str]], path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for doc_id, text in docs:
            fh.write(json.dumps({"doc_id": doc_id, "text": text}, separators=(",", ":")) + "\n")
