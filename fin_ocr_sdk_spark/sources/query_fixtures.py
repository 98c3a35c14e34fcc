"""Small deterministic tables for the driver queries that need inputs
the TPC-H-ish testdata lacks: a web-document span table, X9 clearing
items, a PDF corpus and an HTML corpus.

Each table is built once and cached under ``FIXTURE_ROOT`` by a
versioned file name (``webdocs_v1``, ``x9_items_v1``, ``pdf_docs_v3``,
``html_docs_v2``); change a builder's output and the name's version
must move with it, or stale cached bytes keep answering.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .tables import FIXTURE_ROOT

BOILER_N_DOCS = 200
_X9_N_ITEMS = 400
_PDF_N_DOCS = 120
_HTML_N_DOCS = 150

_GEN_WORDS = ("market report quarterly revenue growth product launch "
              "analysis summary update regional forecast outlook margin "
              "segment detail commentary risk capital liquidity").split()

_HTML_CHROME = {
    "nav": "<nav><ul><li>Home</li><li>Products</li><li>Contact</li>"
           "</ul></nav>",
    "header": "<header>ACME GROUP NEWSROOM</header>",
    "footer": "<footer>copyright acme group all rights reserved"
              "</footer>",
    "aside": "<aside>related stories and links</aside>",
    "ad": "<div class=\"ad-banner\">SUBSCRIBE NOW SPECIAL OFFER</div>",
    "cookie": "<div id=\"cookie-notice\">we use cookies ok?</div>",
    "script": "<script>window.track&&track('pv');</script>",
}


def _cached(name: str, build: Callable[[], pa.Table]) -> str:
    """Path of ``FIXTURE_ROOT/<name>.parquet``, built on first use.  The
    table is written to a ``.tmp`` sibling and renamed into place, so an
    interrupted build never leaves a partial file under the cached
    name."""
    path = os.path.join(FIXTURE_ROOT, f"{name}.parquet")
    if not os.path.exists(path):
        os.makedirs(FIXTURE_ROOT, exist_ok=True)
        tmp = path + ".tmp"
        pq.write_table(build(), tmp)
        os.replace(tmp, path)
    return path


def webdocs_path() -> str:
    """Deterministic interleaved web-document corpus for the
    main-content-extraction op (north rule: boilerplate strip): every
    page carries template header/footer/nav spans plus unique prose
    spans, mirroring real crawled pages where chrome repeats across a
    site and content does not.  Seed 7; schema = the input_hint span
    table."""
    return _cached("webdocs_v1", _build_webdocs)


def _build_webdocs() -> pa.Table:
    rng = np.random.default_rng(7)
    words = ("market report quarterly revenue growth product launch "
             "analysis summary update regional forecast outlook "
             "margin segment detail commentary risk").split()
    boiler_head = "ACME CORP INVESTOR RELATIONS HOME NEWS CONTACT"
    boiler_foot = "copyright acme corp all rights reserved privacy terms"
    boiler_nav = "subscribe to our newsletter follow us"
    doc_ids, spans_col = [], []
    for i in range(BOILER_N_DOCS):
        spans = [{"kind": "text", "text": boiler_head,
                  "media_ref": "", "offset": 0}]
        off = 1
        for _ in range(int(rng.integers(3, 9))):
            t = " ".join(rng.choice(words, int(rng.integers(4, 9))))
            spans.append({"kind": "text", "text": t,
                          "media_ref": "", "offset": off})
            off += 1
        if i % 3 != 0:  # nav block on 2/3 of pages — still boilerplate
            spans.append({"kind": "text", "text": boiler_nav,
                          "media_ref": "", "offset": off})
            off += 1
        spans.append({"kind": "text", "text": boiler_foot,
                      "media_ref": "", "offset": off})
        doc_ids.append(f"web-{i:05d}")
        spans_col.append(spans)
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32())])
    return pa.table({"doc_id": doc_ids,
                     "spans": pa.array(spans_col, type=pa.list_(span_t))})


def x9_path() -> str:
    """X9-shaped clearing-file fixture (the reference's X9 input model,
    src/checkUtil.ts:11-16: payorBankRoutingNumber, payorBankCheckDigit,
    onUs, auxiliaryOnUs).  Synthesized deterministically (seed 13) with
    the field shapes real X9 records exercise: aux-on-us present/absent,
    leading zeros in aux and check fields, embedded whitespace, and
    onUs with and without the account/check '/' separator.  Every onUs
    carries at most ONE '/' — x9ToMicr's JS replace("/","U") swaps only
    the first occurrence, so this keeps regexp-replace-all composition
    twins exact."""
    return _cached("x9_items_v1", _build_x9)


def _build_x9() -> pa.Table:
    rng = np.random.default_rng(13)
    rows = {k: [] for k in ("item_id", "payor_bank_routing_number",
                            "payor_bank_check_digit", "on_us",
                            "auxiliary_on_us")}
    for i in range(_X9_N_ITEMS):
        routing = f"{rng.integers(10**7, 10**8):08d}"
        cd = str(rng.integers(0, 10))
        acct = str(rng.integers(1, 10**10))
        chk = str(rng.integers(1, 10**4))
        variant = i % 4
        if variant == 0:          # plain personal check: no aux
            aux, onus = "", f"{acct}/{chk}"
        elif variant == 1:        # business check: aux serial present
            aux, onus = str(rng.integers(1, 10**6)), f"{acct}/{chk}"
        elif variant == 2:        # embedded space + zero-padded check
            aux, onus = "", f"{acct[:3]} {acct[3:]}/00{chk}"
        else:                     # zero-padded aux, onUs without '/'
            aux, onus = f"00{rng.integers(1, 10**4)}", acct
        rows["item_id"].append(i)
        rows["payor_bank_routing_number"].append(routing)
        rows["payor_bank_check_digit"].append(cd)
        rows["on_us"].append(onus)
        rows["auxiliary_on_us"].append(aux)
    return pa.table(
        {k: (pa.array(v, type=pa.int64()) if k == "item_id" else v)
         for k, v in rows.items()})


def pdf_docs_path() -> str:
    """Deterministic PDF corpus (seed 17) for the north rule's
    PDF-parse leg: 1-3 pages each, sentences that exercise the string
    escapes ``( ) \\`` and multi-line layout, every third document
    stored with uncompressed content streams, every fourth written as
    a PDF 1.5 file (object-stream page dicts, /Contents arrays, xref
    stream), and every sixth (when not 1.5) using hex string literals
    instead of ``(...)`` text strings.  The golden per-page text is
    recorded AT COMPOSE TIME, so the extractor is checked against what
    was written, not against itself."""
    return _cached("pdf_docs_v3", _build_pdf_docs)


def _build_pdf_docs() -> pa.Table:
    from .pdf import encode_pdf_15, encode_simple_pdf
    rng = np.random.default_rng(17)
    ids, blobs, goldens = [], [], []
    for i in range(_PDF_N_DOCS):
        pages = []
        for _ in range(int(rng.integers(1, 4))):
            lines = []
            for _ in range(int(rng.integers(2, 6))):
                ws = " ".join(rng.choice(_GEN_WORDS,
                                         int(rng.integers(4, 9))))
                if rng.random() < 0.3:
                    ws += " (note: Q%d)" % int(rng.integers(1, 5))
                if rng.random() < 0.15:
                    ws += r" ratio a\b"
                lines.append(ws)
            pages.append("\n".join(lines))
        if i % 4 == 0:
            blobs.append(encode_pdf_15(pages))
        else:
            blobs.append(encode_simple_pdf(pages, compress=(i % 3 != 0),
                                           hex_strings=(i % 6 == 1)))
        ids.append(f"pdf-{i:04d}")
        goldens.append(pages)
    return pa.table({
        "pdf_id": ids,
        "pdf": pa.array(blobs, type=pa.binary()),
        "golden_pages": pa.array(goldens, type=pa.list_(pa.string())),
    })


def html_docs_path() -> str:
    """Deterministic HTML corpus (seed 19) for the DOM-heuristic leg:
    every page wraps known content paragraphs (with inline <b>/<i>/
    entity markup) in a random sample of chrome blocks (nav, header,
    footer, aside, class/id-keyword divs, scripts).  Every fifth page
    is DIV-SOUP: no semantic tags or chrome class keywords anywhere —
    chrome is plain <div> link lists, content is <div> paragraphs —
    exercising the extractor's link-density fallback.  The golden main
    text is derived from the content parts at compose time."""
    return _cached("html_docs_v2", _build_html_docs)


def _build_html_docs() -> pa.Table:
    rng = np.random.default_rng(19)
    chrome_keys = sorted(_HTML_CHROME)
    link_words = ("home about contact products archive careers press "
                  "login signup terms privacy help search").split()
    ids, htmls, goldens = [], [], []
    for i in range(_HTML_N_DOCS):
        title = " ".join(rng.choice(_GEN_WORDS, 3)).title()
        paras = []
        for _ in range(int(rng.integers(2, 6))):
            words = [str(w) for w in
                     rng.choice(_GEN_WORDS, int(rng.integers(6, 12)))]
            paras.append(" ".join(words))
        golden = "\n".join([title] + paras)

        if i % 5 == 0:
            # div-soup page: chrome = link-list divs (no semantic tags,
            # no keyword classes), content = plain divs; one content
            # paragraph may carry a single inline link (link density
            # stays well under the 50% drop threshold)
            def link_list() -> str:
                n = int(rng.integers(3, 6))
                items = rng.choice(link_words, n, replace=False)
                return ("<div>" + " ".join(
                    f'<a href="/{w}">{w}</a>' for w in items) + "</div>")
            html_paras = []
            for p in paras:
                ws = p.split()
                if rng.random() < 0.3:
                    k = int(rng.integers(0, len(ws)))
                    ws[k] = f'<a href="/x">{ws[k]}</a>'
                html_paras.append("<div>" + " ".join(ws) + "</div>")
            html = ("<html><head><title>meta title</title></head><body>"
                    + link_list() + link_list()
                    + f"<div><div>{title}</div>"
                    + "".join(html_paras) + "</div>"
                    + link_list() + "</body></html>")
        else:
            html_paras = []
            for p in paras:
                ws = p.split()
                k = int(rng.integers(0, len(ws)))
                deco = str(rng.choice(["b", "i", "em"]))
                ws[k] = f"<{deco}>{ws[k]}</{deco}>"
                sep = "&nbsp;" if rng.random() < 0.2 else " "
                html_paras.append("<p>" + sep.join(ws) + "</p>")
            pre = [_HTML_CHROME[k] for k in
                   rng.choice(chrome_keys, int(rng.integers(1, 4)),
                              replace=False)]
            post = [_HTML_CHROME[k] for k in
                    rng.choice(chrome_keys, int(rng.integers(1, 4)),
                               replace=False)]
            html = ("<html><head><title>meta title</title>"
                    "<style>p{margin:0}</style></head><body>"
                    + "".join(pre)
                    + f"<article><h1>{title}</h1>"
                    + "".join(html_paras) + "</article>"
                    + "".join(post) + "</body></html>")
        ids.append(f"page-{i:04d}")
        htmls.append(html)
        goldens.append(golden)
    return pa.table({
        "page_id": ids, "html": htmls, "golden_main": goldens,
    })
