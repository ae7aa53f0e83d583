"""Seeded input tables and their pure-Python reference digests.

Everything here is a deterministic function of ``(seed, size)``: the same
seed gives byte-identical parquet files, another seed changes every text
but keeps row counts and byte sizes. The program under test only ever sees
the files written here.

The digest of a table is order-independent: each row is rendered as one
string (fields joined by U+001F, NULL as U+0000), hashed with SHA-256, and
the first 60 bits of every row hash are summed. ``spark_digest`` computes
the same value inside Spark, so a committed table is checked without
collecting it.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_S = 1704067200  # 2024-01-01 UTC, the corpus epoch the repo uses
_VOCAB = (
    "dados tabela coluna consulta janela particao linha chave valor grupo "
    "ordem filtro junta rapido lento grande pequeno lote fluxo vetor "
    "pagina texto origem cliente pedido escala registro indice campo "
    "arquivo bloco"
).split()
_LANGS = ("pt", "pt", "pt", "en", "es", "de", "fr")
_SEP = "\x1f"
_NULL = "\x00"

EXAM_COLS = (
    "url", "seq", "subject", "question_num", "ID",
    "span_start", "span_end", "question_text", "correct_answer",
)
HTML_COLS = ("url", "main_text", "n_blocks", "n_content_blocks", "main_chars")


def documents(seed: int, n: int) -> pd.DataFrame:
    """``n`` documents (doc_id, text, source, lang) drawn from ``seed``.

    Text lengths and the source/lang mix are drawn per row, so a seed
    changes content while the expected byte size stays the same."""
    rng = random.Random(seed)
    rows = []
    for doc_id in range(n):
        k = rng.randint(8, 90)
        rows.append(
            (
                doc_id,
                " ".join(rng.choice(_VOCAB) for _ in range(k)),
                f"src{rng.randrange(20)}",
                rng.choice(_LANGS),
            )
        )
    return pd.DataFrame(rows, columns=["doc_id", "text", "source", "lang"])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _chunks(df: pd.DataFrame, n_files: int):
    step = -(-len(df) // n_files)
    for i in range(0, len(df), step):
        yield i // step, df.iloc[i : i + step]


_PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def exam_pages(docs: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(PV pages, GB answer-key pages) in the documents_bridge shape: the
    same url, text and timestamp functions as ``pages_from_documents``,
    evaluated in pure Python."""
    from enem_spark.sources.documents_bridge import (
        EXAM_PAGES, N_SLOTS, gb_text_for, page_text_for, slot_meta,
    )

    pv = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        doc_id = int(doc_id)
        exam = doc_id // EXAM_PAGES
        year, day, color = slot_meta(exam)
        pv.append(
            (
                f"cc://enem/{year}_PV_impresso_{day}_CD{color}-x{exam}"
                f"/page/{doc_id % EXAM_PAGES + 1}",
                pd.Timestamp(EPOCH_S + doc_id, unit="s"),
                None,
                page_text_for(doc_id, text, year),
                "pt",
            )
        )
    gb = []
    for s in range(N_SLOTS):
        year, day, color = slot_meta(s)
        gb.append(
            (
                f"cc://enem/{year}_GB_impresso_{day}_CD{color}/page/0",
                pd.Timestamp(EPOCH_S - 1, unit="s"),
                None,
                gb_text_for(year, day),
                "pt",
            )
        )
    cols = _PAGES_ARROW.names
    return pd.DataFrame(pv, columns=cols), pd.DataFrame(gb, columns=cols)


def write_exam_store(path: str, docs: pd.DataFrame, n_files: int) -> int:
    """Pages table partitioned by ``kind`` (PV exam pages in ``n_files``
    files, GB keys in one), the layout the production batch job reads.
    Returns the PV page count."""
    pv, gb = exam_pages(docs)
    for i, part in _chunks(pv, n_files):
        _write(
            pa.Table.from_pandas(part, schema=_PAGES_ARROW, preserve_index=False),
            f"{path}/kind=PV/part-{i:05d}.parquet",
        )
    _write(
        pa.Table.from_pandas(gb, schema=_PAGES_ARROW, preserve_index=False),
        f"{path}/kind=GB/part-00000.parquet",
    )
    return len(pv)


def exam_reference(docs: pd.DataFrame) -> list[list]:
    """Expected committed question rows, from the repo's pure-Python
    expected-output generator (``expected.expected_question_rows``)."""
    from enem_spark.expected import expected_question_rows

    rows = expected_question_rows(docs[["doc_id", "text"]], keep_unparsed=False)
    return [[r[c] for c in EXAM_COLS] for r in rows]


def html_pages(docs: pd.DataFrame, refetch_every: int = 0) -> pd.DataFrame:
    """CC-style pages (doc_id, url, warc_ts, html, text, lang) rendered by
    ``htmlops.html_for``, one fetch per document 60 s apart. With
    ``refetch_every`` = k, every k-th url is fetched a second time one day
    later with changed text (the re-crawl duplicates a snapshot carries)."""
    from enem_spark.htmlops import html_for, page_url

    rows = []
    for doc_id, text, source, lang in zip(
        docs["doc_id"], docs["text"], docs["source"], docs["lang"]
    ):
        doc_id = int(doc_id)
        ts = EPOCH_S + 60 * doc_id
        url = page_url(doc_id, source)
        rows.append((doc_id, url, ts, html_for(doc_id, text, source, lang), text, lang))
        if refetch_every and doc_id % refetch_every == refetch_every - 1:
            t2 = f"{text} revisto"
            rows.append(
                (doc_id, url, ts + 86400, html_for(doc_id, t2, source, lang), t2, lang)
            )
    df = pd.DataFrame(rows, columns=["doc_id", "url", "ts", "html", "text", "lang"])
    df["warc_ts"] = pd.to_datetime(df.pop("ts"), unit="s")
    df["html"] = [h.encode("utf-8") for h in df["html"]]
    return df.sort_values(["warc_ts", "url"], kind="stable").reset_index(drop=True)


def html_reference(pages: pd.DataFrame) -> list[list]:
    """Expected main_content rows for the latest fetch of every url, from
    ``htmlops.extract_main_reference`` (the html.parser twin, not the fast
    scanner the program runs)."""
    from enem_spark.htmlops import extract_main_reference

    latest = pages.sort_values("warc_ts").drop_duplicates("url", keep="last")
    out = []
    for url, html in zip(latest["url"], latest["html"]):
        text, n_blocks, n_content = extract_main_reference(html.decode("utf-8"))
        out.append([url, text, n_blocks, n_content, len(text)])
    return out


def write_ice_table(path: str, pages: pd.DataFrame, n_snapshots: int) -> None:
    """An icetable (days(warc_ts), bucket(url, 4) partitioning) holding
    ``pages`` as ``n_snapshots`` append snapshots in event-time order —
    the crawl-by-crawl shape icerun plans over."""
    from enem_spark.sources.icetable import (
        ICE_TRANSFORMS, PAGES_ICE_SCHEMA, commit_pandas, create_pandas,
    )

    cols = [f.name for f in PAGES_ICE_SCHEMA.fields]
    table = None
    for i, part in _chunks(pages[cols], n_snapshots):
        seq = 100 * (i + 1)
        if table is None:
            table = create_pandas(
                path, part, PAGES_ICE_SCHEMA, partition_by=ICE_TRANSFORMS, sequence=seq
            )
        else:
            commit_pandas(table, part, PAGES_ICE_SCHEMA, "append", seq)


_STREAM_ARROW = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("lang", pa.string()),
    ]
)


def write_stream_dir(path: str, pages: pd.DataFrame, n_files: int) -> None:
    """Stream input files in event-time order: file i holds the i-th
    warc_ts range, and its mtime (which orders a file source's arrivals)
    increases with i, so no micro-batch sees rows older than the
    watermark of the batches before it."""
    cols = _STREAM_ARROW.names
    for i, part in _chunks(pages[cols], n_files):
        f = f"{path}/part-{i:05d}.parquet"
        _write(pa.Table.from_pandas(part, schema=_STREAM_ARROW, preserve_index=False), f)
        os.utime(f, (EPOCH_S + i, EPOCH_S + i))


def _row_string(row) -> str:
    return _SEP.join(_NULL if v is None else str(v) for v in row)


def digest(rows) -> list[int]:
    """[row count, sum of the first 60 bits of each row's SHA-256]."""
    total = 0
    n = 0
    for row in rows:
        total += int(hashlib.sha256(_row_string(row).encode("utf-8")).hexdigest()[:15], 16)
        n += 1
    return [n, total]


def spark_digest(df, cols) -> list[int]:
    """``digest`` of the rows of ``df`` projected on ``cols``, computed by
    Spark (one aggregate; nothing but two numbers reaches the driver)."""
    from pyspark.sql import functions as F

    s = F.concat_ws(
        _SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols]
    )
    h = F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).first()
    return [int(r["n"]), int(r["s"] or 0)]


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
