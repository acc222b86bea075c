"""Correctness checks, run outside Spark so they never share the session
with the job.

Extract workloads: the pass's output directory, read back with pyarrow.

- no output table holds a duplicate key;
- the pass's lineage names exactly the documents it had to process, and
  exactly the planted malformed ones among them are ``failed``;
- on a seeded sample of processed documents, extracted spans equal
  ``extract_document_oracle`` on (order, kind, text, media_ref), and
  chunks equal ``ChunkPacker`` (via ``chunk_document``) run on that oracle
  output, ids included; failed documents have no spans and no chunks.

The curate queries (traced ``extract_full`` runs): each query's collected
result equals its ``oracle_sql()`` run in DuckDB over the generated table
(as a multiset of rows, floats to a relative 1e-6). ``dedup_clusters``'
oracle reaches through a recursive CTE that takes ~12 s on 1000 documents,
so its candidate pairs come from the oracle's own pair CTE
(``MINHASH_LSH_SQL``) and the minimum reachable doc from a union-find.
"""

from __future__ import annotations

import math
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from docling_rag_spark.kernels.chunker import chunk_document, chunk_ids
from docling_rag_spark.kernels.extract import extract_document_oracle
from docling_rag_spark.operators.dedup import MINHASH_LSH_SQL

from .gen import Corpus

SAMPLE_DOCS = 40


def _rows(table: pa.Table, doc_ids: set[str]) -> dict[str, list[dict]]:
    picked = table.filter(pc.is_in(table["doc_id"], pa.array(sorted(doc_ids))))
    out: dict[str, list[dict]] = {d: [] for d in doc_ids}
    for r in picked.to_pylist():
        out[r["doc_id"]].append(r)
    return out


def check_output(
    out: str,
    keys: dict[str, list[str]],
    run_id: str,
    corpus: Corpus,
    todo: set[str],
    seed: int,
    must_sample: set[str] = frozenset(),
) -> tuple[list[str], int]:
    """(problems found in ``out`` after the pass ``run_id``, empty when
    correct; number of documents the pass's lineage marks ``failed``).
    ``corpus``: every input document; ``todo``: the ids this pass had to
    process; ``must_sample``: ids always included in the oracle sample."""
    problems = []
    tables = {name: pq.read_table(os.path.join(out, name)) for name in keys}
    for name, cols in keys.items():
        n = tables[name].num_rows
        distinct = tables[name].group_by(cols).aggregate([]).num_rows
        if distinct != n:
            problems.append(f"{name}: {n - distinct} duplicate keys")

    lin = tables["lineage"].filter(pc.equal(tables["lineage"]["run_id"], run_id))
    ids = lin["doc_id"].to_pylist()
    if len(ids) != len(set(ids)) or set(ids) != todo:
        problems.append(
            f"lineage of {run_id}: {len(set(ids) - todo)} unexpected, "
            f"{len(todo - set(ids))} missing docs"
        )
    failed = set(pc.filter(lin["doc_id"], pc.equal(lin["status"], "failed")).to_pylist())
    if failed != corpus.planted & todo:
        problems.append(
            f"failed docs: {len(failed - corpus.planted)} unplanted, "
            f"{len((corpus.planted & todo) - failed)} planted not failed"
        )

    rng = random.Random(f"{seed}:check")
    ok_ids = sorted(todo - corpus.planted)
    sample = set(rng.sample(ok_ids, min(SAMPLE_DOCS, len(ok_ids)))) | set(must_sample)
    sample |= corpus.planted & todo
    spans_by_id = {d["doc_id"]: d["spans"] for d in corpus.docs if d["doc_id"] in sample}
    got_spans = _rows(tables["extracted_spans"], sample)
    got_chunks = _rows(tables["chunks"], sample)
    bad = 0
    for doc_id in sorted(sample):
        if doc_id in corpus.planted:
            want, want_chunks = [], []
        else:
            oracle = extract_document_oracle(spans_by_id[doc_id])
            want = [(o, k, t, r) for o, k, t, r, _page in oracle]
            packed = chunk_document(oracle)
            want_chunks = [
                (c["chunk_index"], c["text"], c["page_num"], c["n_tokens"], i)
                for c, i in zip(packed, chunk_ids(doc_id, packed))
            ]
        got = sorted(
            (r["order"], r["kind"], r["text"], r["media_ref"]) for r in got_spans[doc_id]
        )
        got_c = sorted(
            (r["chunk_index"], r["text"], r["page_num"], r["n_tokens"], r["id"])
            for r in got_chunks[doc_id]
        )
        bad += got != want or got_c != want_chunks
    if bad:
        problems.append(f"{bad}/{len(sample)} sampled docs differ from the oracle")
    return problems, len(failed)


def _min_reachable(doc_ids: list[int], pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """(doc_id, smallest doc_id connected to it through ``pairs``)."""
    parent = {d: d for d in doc_ids}

    def root(d: int) -> int:
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d

    for a, b in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return [(d, root(d)) for d in doc_ids]


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Equal as multisets of rows; floats compared to a relative 1e-6."""
    if len(got) != len(want):
        return False

    def key(row):
        return tuple((v is None, round(v, 4) if isinstance(v, float) else v) for v in row)
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


def check_curate(sf_dir: str, results: dict[str, list[dict]]) -> list[str]:
    """Problems in the collected query ``results``, empty when correct."""
    import __spark_entry__

    con = duckdb.connect()
    con.execute(
        "create table documents as select * from read_parquet("
        f"'{os.path.join(sf_dir, 'documents.parquet')}')"
    )
    problems = []
    for name, rows in results.items():
        if name == "dedup_clusters":
            cols = ["doc_id", "cluster_id"]
            ids = [r[0] for r in con.execute("select doc_id from documents").fetchall()]
            pairs = [(a, b) for a, b, _ in con.execute(MINHASH_LSH_SQL).fetchall()]
            want = _min_reachable(ids, pairs)
        else:
            cur = con.execute(__spark_entry__.oracle_sql()[name])
            cols = [d[0] for d in cur.description]
            want = cur.fetchall()
        if not rows or set(rows[0]) != set(cols):
            problems.append(f"{name}: columns {sorted(rows[0]) if rows else []} != {sorted(cols)}")
            continue
        if not _same_rows([tuple(r[c] for c in cols) for r in rows], want):
            problems.append(f"{name}: {len(rows)} rows differ from the oracle's {len(want)}")
    return problems
