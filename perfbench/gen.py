"""Seeded benchmark inputs: corpus, metadata, dimension tables, requests.

Follows the engine's documented doc model (identifier-style Zipf
vocabulary, log-normal doc length, per-doc ``uniq_<i>_<j>`` terms, ~5%
planted phrases, lang keywords, code-ish 8-word lines) but is written
here, independent of the package's own fixtures, so a change to those
fixtures cannot shift a workload. Everything depends only on the seed
(and, for appended batches, on the batch's first doc id).

Tables are written as parquet with pyarrow — no Spark job — and the
program receives only the DataFrames read back from them.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_VOCAB = 50_000
ZIPF_A = 1.2
LANGS = ["py", "java", "c", "go", "js", "md"]
LANG_KEYWORDS = {
    "py": ["def", "class", "import", "return", "self"],
    "java": ["public", "static", "void", "class", "extends"],
    "c": ["struct", "static", "void", "sizeof", "typedef"],
    "go": ["func", "package", "interface", "defer", "chan"],
    "js": ["function", "const", "let", "async", "await"],
    "md": ["the", "and", "usage", "install", "example"],
}
PHRASES = [
    "merge sorted posting lists",
    "block max wand pruning",
    "delta varint compression",
]
_ROOTS = [
    "index", "query", "token", "merge", "block", "score", "parse", "fetch",
    "cache", "shard", "chunk", "batch", "frame", "field", "value", "count",
    "table", "store", "graph", "node",
]
LOCC_CODES = ["P", "PS", "PS12", "PQ", "Q", "QA", "QA76", "T", "TK", "B"]
ROLES = ["Author", "Illustrator", "Editor", "Translator"]
MEDIATYPES = ["text/html", "text/plain", "application/epub+zip",
              "application/x-mobipocket-ebook"]
ENCODINGS = ["utf-8", "us-ascii", "iso-8859-1"]
FILETYPES = ["epub3.images", "epub.images", "html", "cover.medium", "pdf.images"]
N_SUBJECTS = 40
N_SHELVES = 15
N_AUTHORS = 60

VOCAB = np.array(
    [_ROOTS[i % 20] + (str(i // 20) if i >= 20 else "") for i in range(N_VOCAB)],
    dtype=object,
)

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("repo", pa.string()), ("path", pa.string()),
    ("commit", pa.string()), ("lang", pa.string()), ("content", pa.string()),
    ("sha256", pa.string()),
])
_CREATOR = pa.struct([("id", pa.int64()), ("name", pa.string()), ("role", pa.string())])
_FORMAT = pa.struct([
    ("mediatype", pa.string()), ("encoding", pa.string()), ("filename", pa.string()),
    ("extent", pa.int64()), ("filetype", pa.string()), ("hr_filetype", pa.string()),
])
META_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("title", pa.string()), ("all_authors", pa.string()),
    ("all_subjects", pa.string()), ("downloads", pa.int64()),
    ("release_date", pa.date32()), ("copyrighted", pa.int32()),
    ("lang_codes", pa.list_(pa.string())), ("is_audio", pa.bool_()),
    ("max_author_birthyear", pa.int32()), ("min_author_birthyear", pa.int32()),
    ("max_author_deathyear", pa.int32()), ("min_author_deathyear", pa.int32()),
    ("locc_codes", pa.list_(pa.string())),
    ("dc", pa.struct([
        ("creators", pa.list_(_CREATOR)),
        ("subjects", pa.list_(pa.struct([("id", pa.int64()), ("subject", pa.string())]))),
        ("format", pa.list_(_FORMAT)),
        ("bookshelves", pa.list_(pa.struct([("id", pa.int64()), ("bookshelf", pa.string())]))),
        ("summary", pa.list_(pa.string())),
        ("description", pa.list_(pa.string())),
        ("credits", pa.list_(pa.string())),
        ("marc", pa.list_(pa.struct([("code", pa.int32()), ("text", pa.string())]))),
        ("rights", pa.string()),
        ("date", pa.string()),
        ("language", pa.list_(pa.struct([("code", pa.string())]))),
    ])),
])


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def gen_docs(seed: int, start: int, n: int) -> list[dict]:
    """Docs ``start .. start+n-1``; a batch depends only on (seed, start, n)."""
    rng = _rng(seed, 1, start, n)
    lens = np.clip(np.exp(rng.normal(5.0, 0.9, n)), 50, 5000).astype(np.int64)
    ranks = (rng.zipf(ZIPF_A, int(lens.sum())) - 1) % N_VOCAB
    words_all = VOCAB[ranks]
    offs = np.concatenate([[0], np.cumsum(lens)])
    repo_ids = rng.zipf(1.3, n) % 97
    lang_ix = rng.integers(0, len(LANGS), n)
    n_uniq = rng.integers(1, 4, n)
    planted = rng.random(n) < 0.05
    pos_u = rng.random((n, 3))
    pos_p = rng.random(n)
    pkg = rng.integers(0, 40, (n, 2))
    out = []
    for k in range(n):
        i = start + k
        words = list(words_all[offs[k] : offs[k + 1]])
        nt = len(words)
        lang = LANGS[lang_ix[k]] if repo_ids[k] % 5 else "py"
        kw = LANG_KEYWORDS[lang]
        for j in range(0, nt, 37):
            words[j] = kw[j % len(kw)]
        if planted[k]:
            ph = PHRASES[i % len(PHRASES)].split()
            p = int(pos_p[k] * (nt - len(ph)))
            words[p : p + len(ph)] = ph
        # unique terms go on slots no keyword or phrase occupies, so every
        # doc keeps uniq_<i>_0 .. uniq_<i>_<n-1>
        free = [j for j in range(nt) if j % 37 and not (planted[k] and p <= j < p + 4)]
        for j in range(int(n_uniq[k])):
            words[free[int(pos_u[k, j] * len(free))]] = f"uniq_{i}_{j}"
        content = "\n".join(" ".join(words[s : s + 8]) for s in range(0, nt, 8))
        repo = f"org{repo_ids[k] % 17}/repo{repo_ids[k]}"
        path = f"src/pkg{pkg[k, 0]}/mod{pkg[k, 1]}/file{i}.{lang}"
        out.append({
            "doc_id": i, "repo": repo, "path": path,
            "commit": hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest(),
            "lang": lang, "content": content,
            "sha256": hashlib.sha256(content.encode()).hexdigest(),
        })
    return out


def gen_meta(seed: int, n: int) -> tuple[list[dict], list[tuple], list[tuple]]:
    """Metadata rows plus the subject / bookshelf bridge rows."""
    rng = _rng(seed, 2, n)
    rows, b_subj, b_shelf = [], [], []
    epoch = datetime.date(1995, 1, 1)
    for i in range(n):
        auth = sorted(int(a) for a in rng.choice(N_AUTHORS, int(rng.integers(1, 4)), replace=False))
        births = [1700 + (a * 7) % 250 for a in auth]
        subj = sorted(int(s) for s in rng.choice(N_SUBJECTS, int(rng.integers(1, 5)), replace=False))
        shelf = sorted(int(s) for s in rng.choice(N_SHELVES, int(rng.integers(0, 3)), replace=False))
        has_birth = rng.random() > 0.1
        title = " ".join(VOCAB[rng.integers(0, 200, 3)]) + f" vol{i % 7}"
        b_subj += [(i, s) for s in subj]
        b_shelf += [(i, s) for s in shelf]
        rows.append({
            "doc_id": i,
            "title": title,
            "all_authors": " | ".join(f"author_{a}" for a in auth),
            "all_subjects": " | ".join(f"subject_{s}" for s in subj),
            "downloads": int(rng.zipf(1.4)) % 100_000,
            "release_date": epoch + datetime.timedelta(days=int(rng.integers(0, 9000))),
            "copyrighted": int(rng.random() < 0.2),
            "lang_codes": [LANGS[int(rng.integers(0, len(LANGS)))], "en"][: 1 + int(rng.random() < 0.3)],
            "is_audio": bool(rng.random() < 0.1),
            "max_author_birthyear": max(births) if has_birth else None,
            "min_author_birthyear": min(births) if has_birth else None,
            "max_author_deathyear": max(births) + 70 if has_birth else None,
            "min_author_deathyear": min(births) + 70 if has_birth else None,
            "locc_codes": sorted({LOCC_CODES[int(c)] for c in rng.integers(0, len(LOCC_CODES), int(rng.integers(1, 3)))}),
            "dc": {
                "creators": [{"id": a, "name": f"author_{a}", "role": ROLES[a % 4]} for a in auth],
                "subjects": [{"id": s, "subject": f"subject_{s}"} for s in subj],
                "format": [
                    {"mediatype": MEDIATYPES[int(rng.integers(0, 4))],
                     "encoding": ENCODINGS[int(rng.integers(0, 3))],
                     "filename": f"{i}-{j}.bin", "extent": int(rng.integers(1000, 10_000_000)),
                     "filetype": FILETYPES[int(rng.integers(0, 5))], "hr_filetype": f"Format {j}"}
                    for j in range(int(rng.integers(1, 4)))
                ],
                "bookshelves": [{"id": s, "bookshelf": f"shelf_{s}"} for s in shelf],
                "summary": [f"summary of doc {i}"] if rng.random() < 0.8 else [],
                "description": [f"note {i}a", f"note {i}b"][: int(rng.integers(0, 3))],
                "credits": [f"credit_{i % 11}"] if rng.random() < 0.5 else [],
                "marc": [{"code": 508, "text": f"Updated: 2020-0{1 + i % 9}-15."}] if rng.random() < 0.6 else [],
                "rights": "Public domain in the USA." if i % 5 else None,
                "date": f"19{50 + i % 50}-01-01",
                "language": [{"code": LANGS[i % len(LANGS)]}],
            },
        })
    return rows, b_subj, b_shelf


def write_parquet(rows, schema: pa.Schema, path: str, n_files: int = 1) -> None:
    """Rows → ``n_files`` parquet files under ``path`` (a directory)."""
    os.makedirs(path, exist_ok=True)
    step = max(1, -(-len(rows) // n_files))
    for f, s in enumerate(range(0, max(len(rows), 1), step)):
        tbl = pa.Table.from_pylist(rows[s : s + step], schema=schema)
        pq.write_table(tbl, os.path.join(path, f"part-{f:03d}.parquet"))


def write_tables(seed: int, n_docs: int, root: str, n_files: int, base_docs: int,
                 epoch_docs: int) -> list[dict]:
    """Write every table under ``root``; return all docs.

    ``docs`` holds the base docs ``0 .. base_docs-1``; ``docs_epoch<e>``
    the e-th appended batch of ``epoch_docs``. ``meta`` and the bridges
    cover all docs.
    """
    docs = gen_docs(seed, 0, base_docs)
    write_parquet(docs, DOCS_SCHEMA, os.path.join(root, "docs"), n_files)
    for e, start in enumerate(range(base_docs, n_docs, epoch_docs)):
        batch = gen_docs(seed, start, epoch_docs)
        write_parquet(batch, DOCS_SCHEMA, os.path.join(root, f"docs_epoch{e}"), n_files)
        docs += batch
    meta, b_subj, b_shelf = gen_meta(seed, n_docs)
    write_parquet(meta, META_SCHEMA, os.path.join(root, "meta"), n_files)
    dims = {
        "subjects": ([{"pk": s, "subject": f"subject_{s}"} for s in range(N_SUBJECTS)],
                     pa.schema([("pk", pa.int64()), ("subject", pa.string())])),
        "bookshelves": ([{"pk": s, "bookshelf": f"shelf_{s}"} for s in range(N_SHELVES)],
                        pa.schema([("pk", pa.int64()), ("bookshelf", pa.string())])),
        "loccs": ([{"pk": c, "locc": f"locc class {c}"} for c in LOCC_CODES],
                  pa.schema([("pk", pa.string()), ("locc", pa.string())])),
        "mn_docs_subjects": ([{"fk_docs": d, "fk_subjects": s} for d, s in b_subj],
                             pa.schema([("fk_docs", pa.int64()), ("fk_subjects", pa.int64())])),
        "mn_docs_bookshelves": ([{"fk_docs": d, "fk_bookshelves": s} for d, s in b_shelf],
                                pa.schema([("fk_docs", pa.int64()), ("fk_bookshelves", pa.int64())])),
    }
    for name, (rows, schema) in dims.items():
        write_parquet(rows, schema, os.path.join(root, name))
    return docs


# ---------------------------------------------------------------------------
# request streams
# ---------------------------------------------------------------------------

def _typo(rng, word: str) -> str:
    """One letter of the identifier's root replaced; the digits are kept,
    so every typo is about equally selective."""
    p = int(rng.integers(1, len(word.rstrip("0123456789"))))
    ch = "abcdefghijklmnopqrstuvwxyz".replace(word[p], "")[int(rng.integers(0, 25))]
    return word[:p] + ch + word[p + 1 :]


# the tail mix, repeated: 40% unique terms, 20% rare ANDs, 20% typos, 20%
# fragments. Every TAIL_UNIT consecutive requests from the start of the
# list hold exactly that mix.
TAIL_CYCLE = ["uniq", "fuzzy", "uniq", "rare_and", "contains",
              "uniq", "rare_and", "uniq", "fuzzy", "contains"]
TAIL_UNIT = 5


def tail_requests(seed: int, stream: int, n: int, n_docs: int) -> list[tuple[str, str, str]]:
    """(shape, search type, text): selective and approximate requests."""
    rng = _rng(seed, 11, stream)
    out = []
    for k in range(n):
        shape = TAIL_CYCLE[k % len(TAIL_CYCLE)]
        if shape == "uniq":
            out.append((shape, "fts", f"uniq_{int(rng.integers(0, n_docs))}_0"))
        elif shape == "rare_and":
            a, b = rng.integers(2_000, 20_000, 2)
            out.append((shape, "fts", f"{VOCAB[a]} {VOCAB[b]}"))
        elif shape == "fuzzy":
            out.append((shape, "fuzzy", _typo(rng, VOCAB[int(rng.integers(2_000, 20_000))])))
        else:
            # 5-7 characters ending inside the digits: a selective fragment
            w = VOCAB[int(rng.integers(2_000, 20_000))]
            end = len(w) - int(rng.integers(0, 2))
            out.append((shape, "contains", w[end - int(rng.integers(5, 8)) : end]))
    return out


def probe_requests(seed: int, stream: int, newest_doc: int) -> list[tuple[str, str, str]]:
    """The read probe set of ingest_refresh: a hot term, an AND and a NOT
    of hot terms, a planted phrase, the newest doc's unique term
    (freshness), a typo, and an OPDS keyword search feed (an AND of two
    terms, plus the top-subjects facet and the OPDS crosswalk)."""
    rng = _rng(seed, 13, stream)
    a, b, c = (VOCAB[int(i)] for i in rng.choice(64, 3, replace=False))
    return [
        ("hot", "fts", a),
        ("and", "fts", f"{a} {b}"),
        ("not", "fts", f"{a} -{c}"),
        ("phrase", "fts", f'"{PHRASES[int(rng.integers(0, len(PHRASES)))]}"'),
        ("rare", "fts", f"uniq_{newest_doc}_0"),
        ("fuzzy", "fuzzy", _typo(rng, VOCAB[int(rng.integers(2_000, 20_000))])),
        ("opds", "opds", f"{VOCAB[int(rng.integers(64, 400))]} {b}"),
    ]
