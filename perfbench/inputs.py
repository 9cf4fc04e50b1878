"""Seeded input generation for the benchmark workloads.

Everything here runs in the benchmark's own process with numpy, pyarrow
and DuckDB; nothing calls into the package under test.  Each generator
returns the parameters it used plus a SHA-256 digest of the bytes it
wrote, so two runs with the same seed can be shown to have identical
inputs.

Expected outputs are computed here as well, independently of the Arrow
tokenizer the flagship job uses: DuckDB tokenizes with the oracle-side
expression ``functions.text.DUCKDB_TOKENIZE`` and groups by file name.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The 31-word vocabulary of the ``documents.text`` test fixture (FIXTURES.md).
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _digest_files(paths: list[Path], root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _write_text_files(dest: Path, fnames: list[str], lines: pa.Array) -> list[Path]:
    """Split ``lines`` into len(fnames) contiguous runs, one file each."""
    dest.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, len(lines), len(fnames) + 1).astype(np.int64)
    files = []
    for name, lo, hi in zip(fnames, bounds[:-1], bounds[1:]):
        body = pc.binary_join(
            pa.ListArray.from_arrays(pa.array([0, hi - lo], pa.int32()), lines[lo:hi]),
            "\n",
        )[0].as_py()
        path = dest / name
        path.write_text(body + "\n", encoding="utf-8")
        files.append(path)
    return files


def _line_table(fnames: list[str], lines: pa.Array) -> pa.Table:
    bounds = np.linspace(0, len(lines), len(fnames) + 1).astype(np.int64)
    fname_col = np.repeat(np.array(fnames, dtype=object), np.diff(bounds))
    return pa.table({"fname": pa.array(fname_col, pa.string()), "line": lines})


def _vocabulary(rng: np.random.Generator, size: int) -> pa.Array:
    """``size`` random lowercase words of 3 to 10 letters.  The length
    cycles with the rank rather than being drawn, so the frequent words,
    and with them the corpus size, are the same length for every seed."""
    width = 10
    chars = rng.integers(ord("a"), ord("z") + 1, size=(size, width), dtype=np.uint8)
    lengths = 3 + np.arange(size) % (width - 2)
    flat = chars[np.arange(width) < lengths[:, None]]
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    return pa.StringArray.from_buffers(
        size, pa.py_buffer(offsets), pa.py_buffer(flat.tobytes())
    )


def zipf_corpus(
    dest: Path,
    seed: int,
    n_tokens: int,
    n_files: int,
    vocab: int = 1_000_000,
    exponent: float = 1.05,
) -> tuple[pa.Table, dict]:
    """Text files whose words follow a Zipf law over ``vocab`` candidate
    words, so the vocabulary (and the postings) grows with corpus size.

    Lines hold 6 to 23 tokens.  One token in twenty carries a trailing
    comma and one in twenty is capitalised, so the tokenizer's split and
    lowercase both have work to do.  Returns the (fname, line) table the
    files were written from and the generation record.
    """
    rng = np.random.default_rng(seed)
    words = _vocabulary(rng, vocab)
    variants = pa.concat_arrays([
        words,
        pc.binary_join_element_wise(words, pa.scalar(","), ""),
        pc.utf8_capitalize(words),
    ])
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=np.float64) ** -exponent)
    ranks = np.searchsorted(cdf, rng.random(n_tokens) * cdf[-1])
    variant = rng.choice(3, size=n_tokens, p=[0.9, 0.05, 0.05])
    tokens = variants.take(pa.array(ranks + variant * vocab))
    line_len = rng.integers(6, 24, size=n_tokens // 6 + 1)
    offsets = np.concatenate([[0], np.cumsum(line_len)])
    offsets = offsets[offsets < n_tokens]
    offsets = np.append(offsets, n_tokens).astype(np.int32)
    lines = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), tokens), " ")
    fnames = [f"doc_{i:03d}.txt" for i in range(n_files)]
    files = _write_text_files(dest, fnames, lines)
    record = {
        "kind": "zipf",
        "seed": seed,
        "n_tokens": n_tokens,
        "n_files": n_files,
        "vocab": vocab,
        "exponent": exponent,
        "bytes": sum(p.stat().st_size for p in files),
        "sha256": _digest_files(files, dest),
    }
    return _line_table(fnames, lines), record


def replicated_corpus(
    dest: Path, seed: int, n_docs: int, target_bytes: int, n_files: int
) -> tuple[pa.Table, dict]:
    """``n_docs`` seeded document texts (the fixture ``documents.text``
    shape, 31-word vocabulary) replicated to about ``target_bytes``, one
    text per line, the lines permuted by ``seed`` across ``n_files``
    files: bench.py's flagship recipe.  The vocabulary does not grow with
    size, so the shuffle stays tiny and the job is map-bound."""
    rng = np.random.default_rng(seed)
    texts = _documents(rng, n_docs).column("text").combine_chunks()
    base = pc.sum(pc.add(pc.binary_length(texts), 1)).as_py()
    copies = -(-target_bytes // base)
    lines = texts.take(pa.array(rng.permutation(np.tile(np.arange(n_docs), copies))))
    fnames = [f"rep_{i:03d}.txt" for i in range(n_files)]
    files = _write_text_files(dest, fnames, lines)
    record = {
        "kind": "replicated",
        "seed": seed,
        "n_docs": n_docs,
        "copies": int(copies),
        "n_files": n_files,
        "bytes": sum(p.stat().st_size for p in files),
        "sha256": _digest_files(files, dest),
    }
    return _line_table(fnames, lines), record


def expected_postings(lines: pa.Table, tokenize_sql: str, threads: int) -> dict:
    """The inverted index of ``lines`` computed by DuckDB: the digest of
    the sorted ``word -> [f1, f2]`` lines the job must write, plus the
    token and (word, file) pair counts."""
    con = duckdb.connect(config={"threads": threads})
    try:
        con.register("lines", lines)
        tok = tokenize_sql.format(col="line")
        con.execute(
            f"CREATE TEMP TABLE pairs AS SELECT unnest({tok}) AS word, fname FROM lines"
        )
        n_tokens = con.execute("SELECT count(*) FROM pairs").fetchone()[0]
        rows = con.execute(
            "SELECT word || ' -> [' || array_to_string(list_sort(list(DISTINCT fname)), ', ')"
            " || ']', count(DISTINCT fname) FROM pairs GROUP BY word"
        ).fetchall()
    finally:
        con.close()
    return {
        "sha256": digest_lines(r[0] for r in rows),
        "n_words": len(rows),
        "n_tokens": int(n_tokens),
        "n_pairs": int(sum(r[1] for r in rows)),
    }


def digest_lines(lines) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def job_output_digest(files: list[str]) -> str:
    """Order-free digest of the lines a job wrote across its part files."""
    out: list[str] = []
    for f in files:
        out.extend(Path(f).read_text(encoding="utf-8").splitlines())
    return digest_lines(out)


# --- fixture tables for the operator workloads --------------------------------

_TS0 = np.datetime64("1995-01-01T00:00:00", "ms")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Texts over DOC_WORDS.  One in ten documents is a near copy of
    an earlier one (a few words replaced and a tail appended), and a few
    are exact copies, so the dedup, span and index operators find
    clusters, shared windows and duplicate keys to work on."""
    vocab = np.array(DOC_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), size=max(1, len(toks) // 15)):
                toks[j] = vocab[rng.integers(0, len(vocab))]
            toks += list(vocab[rng.integers(0, len(vocab), size=rng.integers(0, 6))])
        elif i > 10 and r < 0.13:
            toks = texts[int(rng.integers(0, i))].split()
        else:
            toks = list(vocab[rng.integers(0, len(vocab), size=rng.integers(8, 90))])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], n, p=[.44, .14, .14, .14, .14])),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n)
    vecs = centers[label] + rng.normal(0, 0.6, (n, dim))
    dup = rng.random(n) < 0.05  # near copies of the previous vector
    dup[0] = False
    idx = np.where(dup)[0]
    vecs[idx] = vecs[idx - 1] + rng.normal(0, 1e-3, (len(idx), dim))
    label[idx] = label[idx - 1]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _star_schema(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """A TPC-H-shaped star schema with the fixture's column names and
    types.  Some orders have no line items and some measure values are
    NULL, as in the test fixtures (FIXTURES.md)."""
    n_cust, n_supp, n_part = n_orders // 10, max(10, n_orders // 150), n_orders * 2 // 15
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, n_part + 1)],
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(11, 56, n_part)]),
        "p_type": pa.array(rng.choice(["STANDARD BRASS", "SMALL TIN", "LARGE STEEL",
                                       "PROMO COPPER", "ECONOMY NICKEL"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, n_part), 2)),
    })
    odate = _TS0 + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1) * 4, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500000, n_orders), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[ms]"), pa.timestamp("ms")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    })
    per_order = rng.integers(0, 8, n_orders)  # 0 lines: orders with no lineitem
    lo_idx = np.repeat(np.arange(n_orders), per_order)
    n_li = len(lo_idx)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per_order if k]) if n_li else []
    qty = np.round(rng.uniform(1, 50, n_li), 0)
    disc = np.round(rng.uniform(0, 0.1, n_li), 2)
    disc_arr = pa.array(np.where(rng.random(n_li) < 0.01, np.nan, disc), from_pandas=True)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array((lo_idx + 1) * 4, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": disc_arr,
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_li), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li, p=[.25, .5, .25])),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(
            (odate[lo_idx] + rng.integers(1, 122, n_li).astype("timedelta64[D]"))
            .astype("datetime64[ms]"), pa.timestamp("ms")),
    })
    n_ev = n_orders * 2 // 3
    ts = (_TS0 + np.sort(rng.integers(0, 6 * 3600 * 1000, n_ev)).astype("timedelta64[ms]"))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 50, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "view", "buy"], n_ev)),
        "value": pa.array(np.round(rng.uniform(0, 100, n_ev), 3)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 9, n_ev)]),
    })
    return tables


def fixture_tables(dest: Path, seed: int, n_orders: int, n_docs: int) -> dict:
    """Write the ten fixture tables the operators read, one parquet file
    each, as ``<dest>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    tables = _star_schema(rng, n_orders)
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_docs)
    dest.mkdir(parents=True, exist_ok=True)
    files = []
    for name, t in tables.items():
        path = dest / f"{name}.parquet"
        pq.write_table(t, path)
        files.append(path)
    return {
        "kind": "tables",
        "seed": seed,
        "n_orders": n_orders,
        "n_docs": n_docs,
        "rows": {k: t.num_rows for k, t in tables.items()},
        "bytes": sum(p.stat().st_size for p in files),
        "sha256": _digest_files(files, dest),
    }
