"""text_chunker strategies beyond token windows
(docs/modules/components/pages/processors/text_chunker.adoc:85-101;
internal/impl/text/text_chunker_processor.go): `recursive_character`
— separator-hierarchy recursion with greedy merge and overlap — and
`markdown` — split at header lines, each header kept with its section,
oversize sections sub-split recursively.

The merge step is inherently sequential *per document*, but documents
are independent, so both strategies run as Arrow-batched pandas UDFs:
per-row Python over Arrow batches, fully parallel across partitions,
no shuffle introduced. The token strategy stays pure Column algebra in
functions/formats.py.
"""

from __future__ import annotations

import re

from pyspark.sql import Column

from connect_spark.boundary import row_udf

DEFAULT_SEPARATORS = ["\n\n", "\n", " ", ""]


def split_recursive(
    text: str,
    separators: list[str] | None = None,
    chunk_size: int = 512,
    chunk_overlap: int = 100,
) -> list[str]:
    """Recursive-character split: find the first separator present,
    split on it, recurse into oversize pieces with the remaining
    separators, then greedily merge adjacent pieces into chunks of at
    most `chunk_size` characters with `chunk_overlap` characters of
    carry-over between consecutive chunks."""
    seps = separators if separators is not None else DEFAULT_SEPARATORS
    return _split(text, seps, chunk_size, chunk_overlap)


def _split(text, separators, chunk_size, overlap):
    sep = separators[-1] if separators else ""
    rest: list[str] = []
    for i, s in enumerate(separators):
        if s == "":
            sep, rest = "", []
            break
        if s in text:
            sep, rest = s, separators[i + 1 :]
            break
    pieces = list(text) if sep == "" else text.split(sep)
    pieces = [p for p in pieces if p != ""]
    out: list[str] = []
    good: list[str] = []
    for p in pieces:
        if len(p) < chunk_size:
            good.append(p)
            continue
        if good:
            out.extend(_merge(good, sep, chunk_size, overlap))
            good = []
        if rest:
            out.extend(_split(p, rest, chunk_size, overlap))
        else:
            out.append(p)
    if good:
        out.extend(_merge(good, sep, chunk_size, overlap))
    return out


def _merge(pieces, sep, chunk_size, overlap):
    sl = len(sep)
    chunks: list[str] = []
    cur: list[str] = []
    total = 0
    for p in pieces:
        pl = len(p)
        if cur and total + pl + sl > chunk_size:
            chunks.append(sep.join(cur))
            # drop from the front until the carried tail fits the
            # overlap budget (overlap=0 ⇒ fresh chunk every time)
            while cur and (
                total > overlap
                or (total + pl + sl > chunk_size and total > 0)
            ):
                total -= len(cur[0]) + (sl if len(cur) > 1 else 0)
                cur.pop(0)
        cur.append(p)
        total += pl + (sl if len(cur) > 1 else 0)
    if cur:
        chunks.append(sep.join(cur))
    return chunks


_HEADER_RE = re.compile(r"^(#{1,6})\s+\S")


def split_markdown(
    text: str, chunk_size: int = 512, chunk_overlap: int = 100
) -> list[dict]:
    """Markdown strategy: split at header lines; each section is
    {header, body}. A body longer than `chunk_size` is sub-split with
    the recursive-character splitter (one section row per sub-chunk,
    same header)."""
    sections: list[tuple[str, list[str]]] = []
    header = ""
    body: list[str] = []
    for line in text.split("\n"):
        if _HEADER_RE.match(line):
            if header or body:
                sections.append((header, body))
            header, body = line, []
        else:
            body.append(line)
    if header or body:
        sections.append((header, body))
    out: list[dict] = []
    for header, body_lines in sections:
        body_text = "\n".join(body_lines).strip("\n")
        if len(body_text) > chunk_size:
            for piece in split_recursive(
                body_text,
                chunk_size=chunk_size,
                chunk_overlap=chunk_overlap,
            ):
                out.append({"header": header, "body": piece})
        else:
            out.append({"header": header, "body": body_text})
    return out


def recursive_chunks_udf(
    chunk_size: int = 512,
    chunk_overlap: int = 100,
    separators: list[str] | None = None,
):
    """Column of text → array<string> of recursive-character chunks."""
    seps = list(separators) if separators is not None else None
    return row_udf(
        "array<string>",
        lambda t: split_recursive(t, seps, chunk_size, chunk_overlap),
    )


def markdown_chunks_udf(chunk_size: int = 512, chunk_overlap: int = 100):
    """Column of markdown → array<struct<header,body>> sections."""
    return row_udf(
        "array<struct<header: string, body: string>>",
        lambda t: split_markdown(t, chunk_size, chunk_overlap),
    )


def chunk_column(
    col: Column,
    strategy: str,
    chunk_size: int = 512,
    chunk_overlap: int = 100,
    separators: list[str] | None = None,
) -> Column:
    """Strategy dispatch for the text_chunker processor. `token` is
    handled by functions/formats.text_chunks (pure Column algebra)."""
    if strategy == "recursive_character":
        return recursive_chunks_udf(chunk_size, chunk_overlap, separators)(
            col
        )
    if strategy == "markdown":
        return markdown_chunks_udf(chunk_size, chunk_overlap)(col)
    raise ValueError(f"unknown chunker strategy {strategy!r}")
