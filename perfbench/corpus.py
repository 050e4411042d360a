"""Benchmark inputs: synth corpora written to parquet, and how honest they
are (how much text repeats).

    python3 -m perfbench.corpus <pages> <seed> <chunk> <chunks> <out_dir>

writes one chunk of a corpus; CorpusWriter runs the chunks in parallel,
because synth.generate_corpus is single-threaded Python.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP_ROWS = 2_000


def write_parquet(rows: list[dict], schema, path: str) -> str:
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)
    return path


def section_texts(pages: list[dict]) -> list[str]:
    """Every section title and body of every page the oracle extracts."""
    from tests.oracle import reference_impl as oracle

    out = []
    for p in pages:
        ex = oracle.oracle_extract(p["text"])
        if ex is not None:
            for title, content in ex["sections"]:
                out += [title, content]
    return out


def input_honesty(pages: list[dict], sections: list[str]) -> dict:
    """Share of distinct section texts among all section texts, and the
    share of pages whose text repeats an earlier page's."""
    texts = set()
    dup = 0
    for p in pages:
        dup += p["text"] in texts
        texts.add(p["text"])
    return {
        "pages": len(pages),
        "distinct_section_text_ratio":
            round(len(set(sections)) / max(1, len(sections)), 4),
        "duplicate_page_rate": round(dup / max(1, len(pages)), 4),
    }


OUTBREAKS_SCHEMA = pa.schema([
    ("ID", pa.int64()), ("outbreakName", pa.string()),
    ("archiveNumber", pa.string()), ("datePublished", pa.string())])


def write_chunk(n: int, seed: int, k: int, chunks: int, out_dir: str) -> None:
    from outbreak_kg_spark import synth
    from outbreak_kg_spark.schemas import PAGES

    corpus = synth.generate_corpus(n, seed)
    pages = corpus["pages"]
    if chunks > 1:  # chunks reuse archive numbers; keep urls unique
        for p in pages:
            p["url"] = p["url"].replace("promed://", f"promed://c{k}/", 1)
    write_parquet(pages, PAGES, os.path.join(out_dir, f"part-{k}.parquet"))
    pq.write_table(
        pa.Table.from_pylist(corpus["outbreaks"], schema=OUTBREAKS_SCHEMA),
        os.path.join(out_dir, f"outbreaks-{k}.parquet"))
    with open(os.path.join(out_dir, f"_sections-{k}.json"), "w") as f:
        json.dump(section_texts(pages), f)


class CorpusWriter:
    """Writes ``chunks`` generate_corpus chunks of n pages in all to
    out_dir, one child process each, starting at construction, so the
    work overlaps the Spark session start. The chunking is fixed, so a
    seed gives the same pages on any host; one chunk is exactly
    ``generate_corpus(n, seed)``."""

    def __init__(self, n: int, seed: int, chunks: int, out_dir: str):
        os.makedirs(out_dir)
        self.out_dir, self.chunks = out_dir, chunks
        self.procs = [subprocess.Popen(
            [sys.executable, "-m", "perfbench.corpus", str(n // chunks),
             str(seed if chunks == 1 else seed * chunks + k), str(k),
             str(chunks), out_dir])
            for k in range(chunks)]

    def files(self, kind: str) -> list[str]:
        return [os.path.join(self.out_dir, f"{kind}-{k}.parquet")
                for k in range(self.chunks)]

    def wait(self) -> tuple[list[dict], dict]:
        """(pages, input-honesty figures) once every chunk is written."""
        codes = [p.wait() for p in self.procs]
        if any(codes):
            raise RuntimeError(f"corpus chunk writers exited with {codes}")
        pages, sections = [], []
        for k, path in enumerate(self.files("part")):
            pages += pq.read_table(path).to_pylist()
            with open(os.path.join(self.out_dir, f"_sections-{k}.json")) as f:
                sections += json.load(f)
        return pages, input_honesty(pages, sections)


if __name__ == "__main__":
    n, seed, k, chunks = (int(x) for x in sys.argv[1:5])
    write_chunk(n, seed, k, chunks, sys.argv[5])
