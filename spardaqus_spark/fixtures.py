"""Deterministic synthetic source-code corpus (FIXTURES.md §1).

Shape: (repo, path, commit, lang, content) — BASELINE.json:15 input_hint.
All per-row randomness is sha256(id)-derived (seed 42 constant baked into
the hash prefix); the same id yields the same bytes at any scale and any
parallelism (SURVEY.md §2.9.8). NO rand().

Planted strata (FIXTURES.md §1 table): clean 70%, long_lines 5%,
low_alnum 5%, dup_lines 5%, autogen 3%, high_ppl 4%, wrong_lang 3%,
pii 3%, toxic 2%, plus 5% extra exact-duplicate rows copied from clean rows.

Skew: two mega-repos own ~30% of rows (exercises salted repartition).
"""

from __future__ import annotations

import hashlib

import pandas as pd

from .kernels import seeds

SEED = 42
EXTS = ["py", "java", "js", "go", "md", "txt"]
STRATA = [
    ("clean", 700),
    ("long_lines", 750),
    ("low_alnum", 800),
    ("dup_lines", 850),
    ("autogen", 880),
    ("high_ppl", 920),
    ("wrong_lang", 950),
    ("pii", 980),
    ("toxic", 1000),
]

_GIBBERISH_ALPHABET = [chr(c) for c in range(0x21, 0x7F)] + [
    chr(c) for c in range(0x391, 0x3C9)
] + [chr(c) for c in range(0x410, 0x44F)]


def _h(i: int, tag: str = "") -> bytes:
    return hashlib.sha256(f"{SEED}:{tag}:{i}".encode()).digest()


def _ints(i: int, tag: str, k: int) -> list[int]:
    out: list[int] = []
    ctr = 0
    while len(out) < k:
        d = _h(i, f"{tag}:{ctr}")
        for j in range(0, 32, 4):
            out.append(int.from_bytes(d[j : j + 4], "big"))
        ctr += 1
    return out[:k]


def _stratum(i: int) -> str:
    v = _ints(i, "stratum", 1)[0] % 1000
    for name, hi in STRATA:
        if v < hi:
            return name
    return "clean"


def _luhn_card(i: int) -> str:
    digits = [d % 10 for d in _ints(i, "card", 15)]
    total = 0
    for idx, d in enumerate(reversed(digits)):
        # positions 0,2,... from the right of the 15 known digits sit at odd
        # offsets once the check digit is appended -> double them
        dd = d * 2 if idx % 2 == 0 else d
        total += dd - 9 if dd > 9 else dd
    check = (10 - total % 10) % 10
    return "".join(map(str, digits)) + str(check)


def _comment_prefix(ext: str) -> str:
    return {"py": "# ", "go": "// ", "java": "// ", "js": "// ", "md": "", "txt": ""}[ext]


def _gen_content(i: int, ext: str, content_lang: str, stratum: str) -> str:
    r = _ints(i, "content", 24)
    words = seeds.WORDS[content_lang]
    toks = seeds.CODE_TOKENS[ext]
    cp = _comment_prefix(ext)
    n_lines = 20 + r[0] % 30
    lines: list[str] = []
    for k in range(n_lines):
        rv = r[1 + k % 20] + k * 2654435761
        if k % 3 == 0:
            ws = [words[(rv + j * 7) % len(words)] for j in range(6)]
            lines.append(cp + " ".join(ws))
        else:
            ts = [toks[(rv + j * 13) % len(toks)] for j in range(5)]
            lines.append("    ".join(ts) + f" v{rv % 97} = {rv % 1000}")

    if stratum == "long_lines":
        blob = ("a=1;b=2;" * 160)[: 1100 + r[2] % 300]
        lines[n_lines // 2] = blob
    elif stratum == "low_alnum":
        junk = "!@#$%^&*()[]{};:<>,.?/|\\~`" * 4
        lines = [junk[(r[3] + k) % 20 : (r[3] + k) % 20 + 60] for k in range(n_lines)]
    elif stratum == "dup_lines":
        dup = lines[0]
        for k in range(n_lines):
            if k % 2 == 0 or k < n_lines * 0.2:
                lines[k] = dup
    elif stratum == "autogen":
        lines.insert(0, cp + "DO NOT EDIT — generated by spardaqus-gen 1.0")
    elif stratum == "high_ppl":
        a = _GIBBERISH_ALPHABET
        lines = [
            "".join(a[(r[4 + (k % 16)] + k * 31 + j * 17) % len(a)] for j in range(70))
            for k in range(n_lines)
        ]
    elif stratum == "wrong_lang":
        zh = seeds.WORDS["zh"]
        lines = [
            " ".join(zh[(r[5] + k * 3 + j) % len(zh)] for j in range(10))
            for k in range(n_lines)
        ]
    elif stratum == "pii":
        lines.insert(2, cp + f"contact: user{i}@example.com")
        lines.insert(4, f"host = '10.{r[6] % 256}.{r[7] % 256}.{r[8] % 250}'")
        key_suffix = "".join(
            "ABCDEFGHJKLMNPQRSTUVWXYZ23456789"[v % 32] for v in _ints(i, "akia", 16)
        )
        lines.insert(6, f"aws_key = 'AKIA{key_suffix}'")
        lines.insert(8, cp + f"call +1 ({200 + r[9] % 700}) {200 + r[10] % 700}-{1000 + r[11] % 9000}")
        lines.insert(10, cp + f"card: {_luhn_card(i)}")
    elif stratum == "toxic":
        lex = seeds.WORDS[content_lang]
        tox = ["frakking", "gorram", "smegging", "feldercarb", "belgium"]
        lines.insert(3, cp + f"this {tox[r[12] % len(tox)]} module is {lex[r[13] % len(lex)]}")
        lines.insert(7, cp + f"utterly {tox[r[14] % len(tox)]} nonsense")
    return "\n".join(lines) + "\n"


def gen_files(n: int, seed: int = SEED) -> pd.DataFrame:
    """Generate the base corpus of n rows plus ~5% exact-dup extras."""
    assert seed == SEED, "corpus is pinned to seed 42 (FIXTURES.md)"
    rows = []
    clean_contents: list[tuple[str, str]] = []  # (commit-source content, lang)
    for i in range(n):
        r = _ints(i, "row", 6)
        stratum = _stratum(i)
        if r[0] % 10 < 3:
            repo = f"mega/repo{r[0] % 2}"
        else:
            repo = f"org{r[1] % 50}/repo{r[1] % 400}"
        ext = EXTS[r[2] % len(EXTS)]
        path = f"src/dir{r[3] % 20}/file{i}.{ext}"
        commit = hashlib.sha256(f"{SEED}:commit:{i}".encode()).hexdigest()[:40]
        claimed_lang = seeds.LANGS[r[4] % len(seeds.LANGS)]
        content_lang = (
            "zh" if stratum == "wrong_lang" else seeds.ALLOWED_LANGS[r[5] % 4]
        )
        content = _gen_content(i, ext, content_lang, stratum)
        rows.append((repo, path, commit, claimed_lang, content, stratum))
        if stratum == "clean":
            clean_contents.append((content, claimed_lang))
    # exact-dup stratum: +5% rows, contents copied from clean rows
    n_dup = n // 20
    for j in range(n_dup):
        if not clean_contents:
            break
        i = n + j
        r = _ints(i, "dup", 4)
        content, lang = clean_contents[r[0] % len(clean_contents)]
        repo = f"org{r[1] % 50}/repo{r[1] % 400}"
        path = f"src/dir{r[2] % 20}/file{i}.{EXTS[r[3] % len(EXTS)]}"
        commit = hashlib.sha256(f"{SEED}:commit:{i}".encode()).hexdigest()[:40]
        rows.append((repo, path, commit, lang, content, "exact_dup"))
    df = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content", "stratum"]
    )
    return df
