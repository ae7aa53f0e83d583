"""enem_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the query/data-processing capabilities of
caue-paiva/ENEM_PDF_PARSER (reference at /root/reference), re-expressed as a
distributed, columnar, Arrow-vectorized Spark pipeline over Common-Crawl-style
page tables:

    pages(url, warc_ts, html, text, lang)
      -> layout reconstruction (two-column bbox clustering)
      -> page preprocessing (marker normalization, header/barcode strip)
      -> question segmentation (explode)
      -> alternative parsing (vectorized state machine)
      -> answer-key broadcast join
      -> subject routing + ordered group-concat sinks

plus the training-data-pipeline operators a 100 TB corpus needs
(dedup exact/MinHash-LSH/SimHash, similarity search, language ID,
quality scoring, token counting, fingerprinting).

Nothing here is a port: the reference is a single-threaded, row-at-a-time
Python program; this engine is declarative DataFrame plans with pandas UDFs
only where string state machines genuinely need Python.
"""

import hashlib
import os
import tempfile

__version__ = "0.1.0"


def staging_path(kind: str, sf_dir: str, extra: str = "") -> str:
    """Where a stager keeps what it derives from the corpus at ``sf_dir``:
    ``$TMPDIR/enem_<kind>_<basename>_<md5[:8] of the path><extra>``. The
    path hash keeps two corpora that share a basename (``.../a/sf0.01``,
    ``.../b/sf0.01``) apart; ``extra`` carries any other input the staged
    files depend on (a shard count, an input fingerprint, a config)."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(
        tempfile.gettempdir(),
        f"enem_{kind}_{os.path.basename(sf_dir)}_{tag}{extra}",
    )
