"""Seeded page corpora and the ground-truth checks on their extraction.

Two corpora, both keyed only on (seed, doc index):

* the generator's template mix (`engine.synth.gen_doc_with_expected`):
  ~2 KB pages plus its PDF, junk, malformed and re-crawl rows;
* long pages: the same generator, except that every evaluable HTML page
  is rebuilt as the boilerplate-heavy template (cookie banner, masthead,
  nav, sidebar, footer) around 100-200 paragraphs, tens of KB each. Junk,
  PDF, malformed and re-crawl rows keep their usual shares.

Expected text is known by construction, so the checks never compare
against a stored copy of an earlier run's output.
"""

from __future__ import annotations

import collections
import random

from engine import synth

LONG_PARAGRAPHS = (100, 200)


def _long_html(rng: random.Random, lang: str, i: int) -> tuple[str, str]:
    paras = synth._paragraphs(rng, lang, rng.randint(*LONG_PARAGRAPHS))
    title = f"Document {i} — a long study in type"
    body = "".join(f"<p>{p}</p>" for p in paras)
    html = (
        f'<!DOCTYPE html><html lang="{lang}"><head><title>{title}</title>'
        f'<meta charset="utf-8"><style>body{{margin:0}}</style>'
        f"<script>var x=1;</script></head><body>"
        f'{synth._COOKIE}<header class="masthead"><h1>Synthetic Crawl Gazette</h1>'
        f"{synth._nav(rng)}</header>"
        f'<div class="layout"><div class="content-main"><article class="post">'
        f"<h2>{title}</h2>{body}</article></div>{synth._sidebar(rng)}</div>"
        f"{synth._FOOTER}</body></html>"
    )
    return " ".join([title] + paras), html


def doc(i: int, seed: int, long: bool = False) -> tuple[list[dict], str | None]:
    """(rows, expected text) of doc i. Expected is None where the text is
    undefined (PDF, junk, malformed) and "" for a link farm."""
    rows, expected = synth.gen_doc_with_expected(i, seed)
    if long and expected:
        rng = random.Random(seed * 7_919 + i)
        expected, html = _long_html(rng, rows[0]["lang"], i)
        payload = html.encode("utf-8")
        rows = [dict(r, html=payload) for r in rows]
    return rows, expected


def kind(row: dict, expected: str | None) -> str:
    html = row["html"] or b""
    if row["url"].endswith(".bin"):
        return "binary" if html else "empty"
    if html[:5] == b"%PDF-":
        return "pdf"
    if expected is None:
        return "malformed"
    return "linkfarm" if expected == "" else "article"


def corpus(indices, seed: int, long: bool = False):
    """(rows, truth) for the given doc indices; truth maps url ->
    (kind, expected text)."""
    rows, truth = [], {}
    for i in indices:
        rs, expected = doc(i, seed, long)
        rows.extend(rs)
        truth[rs[0]["url"]] = (kind(rs[0], expected), expected)
    return rows, truth


def write_parquet(rows: list[dict], path, files: int) -> None:
    """Rows as `files` parquet files in index order (file k holds the k-th
    contiguous slice), the layout `engine.cli synth` writes."""
    import pathlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    # engine.schema.PAGES_SCHEMA, as Arrow
    schema = pa.schema([
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    out = pathlib.Path(path)
    tmp = out.with_name(out.name + ".tmp")
    tmp.mkdir(parents=True, exist_ok=True)
    step = -(-len(rows) // files)
    for k in range(files):
        part = rows[k * step : (k + 1) * step]
        tbl = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(tbl, tmp / f"part-{k:05d}.parquet")
    tmp.rename(out)


# ------------------------------------------------------------------ checks


def word_bag(text: str | None) -> collections.Counter:
    return collections.Counter((text or "").split())


def check_doc(kind_: str, expected, status, error, text) -> str | None:
    """None if the extraction of one document is right, else the reason.
    Non-empty binary junk is not judged (see README: some random payloads
    parse as markup, depending on the seed)."""
    if kind_ == "binary":
        return None
    if kind_ == "empty":
        ok = status == "failed" and error == "empty_input"
        return None if ok else f"empty payload gave {status} {error}"
    if kind_ == "pdf":
        return None if status == "ok" and text else f"pdf: {status} {error}"
    if kind_ == "malformed":
        return None if status == "ok" else f"malformed: {status} {error}"
    if status != "ok":
        return f"{kind_}: {status} {error}"
    got, want = word_bag(text), word_bag(expected)
    if got != want:
        extra = sum((got - want).values())
        missing = sum((want - got).values())
        return f"{kind_}: word bag differs (+{extra} -{missing} words)"
    return None


def check_outputs(truth: dict, out_rows) -> list[str]:
    """Every output row against the ground truth; also every url must be
    present. out_rows: iterable of (url, status, error, text); a url may
    repeat (re-crawl rows)."""
    errs, seen = [], set()
    for url, status, error, text in out_rows:
        seen.add(url)
        if url not in truth:
            errs.append(f"{url}: not in input")
            continue
        k, expected = truth[url]
        why = check_doc(k, expected, status, error, text)
        if why:
            errs.append(f"{url}: {why}")
    missing = set(truth) - seen
    errs.extend(f"{u}: missing from output" for u in sorted(missing)[:5])
    return errs


def judged(truth: dict, rows: list[dict]) -> int:
    """Rows whose extraction the checks judge (one operation each)."""
    return sum(truth[r["url"]][0] != "binary" for r in rows)
