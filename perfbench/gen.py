"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed gives
byte-identical rows and payloads.  The generators live with the
benchmark (not in the engine's ``sources/`` package) so that a change to
the engine cannot silently change what the benchmark feeds it.

Document rows follow the engine's input shape::

    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)

and the media sidecar of the extraction job::

    media(doc_id string, media_ref string, format string, payload binary)
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import zlib

# Line families that make every officeAction step do real work:
# headings, bullets, statute and citation references, block markers,
# prior-art records, signatures, mixed-width technical text, paragraph
# markers, quoted claims and whitespace/control-character noise.
_POOLS = [
    [  # headings
        "１．（進歩性）この出願の下記の請求項に係る発明は特許を受けることができない。",
        "2.対比",
        "（２）相違点２について",
        "(B)構成の検討",
        "2.1.3.細部について",
        "第２章　各論",
        "4)まとめ",
        "B.構成要件",
    ],
    [  # bullets
        "・請求項　１－８",
        "・引用文献等　１－４",
        "●理由２（新規性）について",
        "・調査した分野 IPC G06F 16/00- 16/958",
        "<付記>",
        "-留意事項",
    ],
    [  # statutes and dates
        "特許法第２９条第１項第３号に該当し、特許を受けることができない。",
        "この出願は、特許法第36条第6項第2号に規定する要件を満たしていない。",
        "ＰＣＴ第19条の規定に基づく補正がなされた。",
        "特許法施行規則様式第１３備考７に従い記載されたい。",
        "令和3年5月20日に提出された意見書を検討した。",
        "第１７条の２第３項に該当する。",
    ],
    [  # citations
        "引用文献2(特に段落[0010]、[0012]-[0015]、図2、3b、式(1)、表2参照)",
        "請求項2-5に係る発明について",
        "段落［０１２１］及び［０１３０］を参照されたい。",
        "第3.4.Y.1節、第12頁を参照。",
        "引用文献1、3及び4に記載された発明",
        "端末は、信号を送信し（段落[００３１]、[００４４]、[００５０]-[００５２]、図２、５-７）動作する。",
    ],
    [  # block markers
        "記",
        "記 (引用文献等については引用文献等一覧参照)",
        "<引用文献等一覧>",
        "------------------------------------",
        "<先行技術文献調査結果の記録>",
        "<補正をする際の注意>",
        "<補正の示唆>",
        "<ファミリー文献情報>",
        "<優先権の主張の効果について>",
        "この先行技術文献調査結果の記録は、拒絶理由を構成するものではありません。",
        "この拒絶理由通知の内容に関するお問合せがありましたら、次の連絡先までご連絡ください。",
    ],
    [  # prior-art records
        "・調査した分野 IPC G06F 16/00- 16/958",
        "H04L 9/00- 9/40",
        "DB名 IEEE 802.3",
        "DB名 3GPP TSG SA WG2-3",
        "RAN WG2、5",
        "・先行技術文献 特開２０１８－０９８７６５号公報",
        "特開2021-012345号公報",
        "国際公開第2019/123456号",
    ],
    [  # signatures
        "　審査第三部情報処理(PB1A) 山田 太郎(やまだ たろう)",
        "　TEL.03-3581-1101 内線3501",
        "　※●●●●@Jpo.Go.Jp (上記「●●●●」に置き換えて、「PB1A」と入力ください。)",
    ],
    [  # mixed-width technical text
        "ＩＥＥＥ 802.3の規格に従いethernet通信を行う。",
        "TLS1.3による暗号化を行う。http requestを送信する。",
        "ueはgnbからdciを受信する。lte方式である。",
        "C P U は命令を実行する。",
        "サーバはhttp responseを返す。",
    ],
    [  # paragraph markers and body
        "[0021] 本実施形態では、情報処理装置について説明する。",
        "【００３３】",
        "本発明の装置は、記憶部と処理部とを備える。",
        "【発明の概要】",
        "Summary",
        "BRIEF DESCRIPTION OF DRAWINGS",
        "端末は基地局からＳＩＢを受信する。",
        "The device includes ａ memory.",
    ],
    [  # quoted claims
        "『請求項２に係る発明は、\n\n記憶部と、\n\n処理部とを備える装置。』",
        "『信号を送信する工程と、\n受信する工程とを含む方法。』",
    ],
    [  # noise
        "　　全角　空白　まじり　",
        "half  and　full　width  text",
        "Ａ-Ｚ０-９の全角英数字を含む",
        "tab\tand\x0bvertical tab",
        "ゼロ幅​文字と制御\x02文字",
    ],
]

def doc_text(rng: random.Random, n_blocks: int) -> str:
    """One text span: ``n_blocks`` pool lines with blank-line and
    whitespace noise, joined by one of the three newline conventions."""
    parts: list[str] = []
    for _ in range(n_blocks):
        parts.append(rng.choice(rng.choice(_POOLS)))
        if rng.random() < 0.35:
            parts.append("")
        if rng.random() < 0.08:
            parts.append("　" * rng.randint(1, 3))
    return rng.choice(["\n", "\n", "\n", "\r\n", "\r"]).join(parts)


# documents(): median text spans per doc, figure/table spans per doc at
# most, share of docs stored out of offset order
TEXT_SPANS = 10
MAX_FIGURES = 4
PERMUTED_SHARE = 0.2


def _span(kind: str, text: str, media_ref: str, offset: int) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def documents(seed: int, n_docs: int) -> list[dict]:
    """Uniform interleaved corpus: Gaussian text-span counts, figure and
    table spans between runs, a fifth of the docs stored out of offset
    order (the engine must restore it)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        n_text = max(1, int(rng.gauss(TEXT_SPANS, TEXT_SPANS / 4)))
        media_left = rng.randint(0, MAX_FIGURES)
        spans, off = [], 0
        for _ in range(n_text):
            spans.append(_span("text", doc_text(rng, rng.randint(1, 4)), "", off))
            off += 1
            if media_left and rng.random() < 0.3:
                kind = rng.choice(["figure", "table"])
                spans.append(_span(kind, "", f"media://{kind}/{rng.randint(0, 9999):04d}", off))
                off += 1
                media_left -= 1
        if rng.random() < PERMUTED_SHARE:
            rng.shuffle(spans)
        rows.append({"doc_id": f"doc-{i:06d}", "spans": spans})
    return rows


# ---------------------------------------------------------------------------
# media payloads
# ---------------------------------------------------------------------------

def _pdf_string(s: str) -> bytes:
    esc = {ord("("): b"\\(", ord(")"): b"\\)", ord("\\"): b"\\\\"}
    return b"(" + b"".join(esc.get(b, bytes([b])) for b in s.encode("latin-1")) + b")"


def pdf_payload(pages: list[list[str]], compress: bool) -> bytes:
    """A valid PDF: one Helvetica page per entry of ``pages``, each line
    absolutely positioned with ``Tm`` and emitted bottom line first, so
    reading order must come from the coordinates.  xref offsets are exact."""
    contents = []
    for lines in pages:
        ops = [b"BT /F1 11 Tf"]
        for ln in reversed(range(len(lines))):
            ops.append(b"1 0 0 1 72 %d Tm %s Tj" % (760 - 13 * ln, _pdf_string(lines[ln])))
        ops.append(b"ET")
        contents.append(b"\n".join(ops))
    filt = b""
    if compress:
        contents = [zlib.compress(c, 6) for c in contents]
        filt = b" /Filter /FlateDecode"
    kids = b" ".join(b"%d 0 R" % (4 + 2 * i) for i in range(len(contents)))
    bodies = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(contents)),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for i, c in enumerate(contents):
        bodies.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>" % (5 + 2 * i)
        )
        bodies.append(b"<< /Length %d%s >>\nstream\n%s\nendstream" % (len(c), filt, c))
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(bodies, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(bodies) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(bodies) + 1,
        xref,
    )
    return bytes(out)


# payload vocabulary: 1024 short ASCII words (PDF strings are latin-1)
_VOCAB = [hashlib.md5(b"w%d" % i).hexdigest()[: 3 + i % 8] for i in range(1024)]


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_VOCAB, k=n))


def html_payload(rng: random.Random, n_paras: int) -> tuple[bytes, int]:
    """A page with a link-dense nav block (boilerplate) and ``n_paras``
    content paragraphs long enough to pass the main-content gate; also
    the characters of its content paragraphs."""
    nav = "".join(f'<a href="/p{j}">{_words(rng, 1)}</a> ' for j in range(6))
    paras = [_words(rng, 30) for _ in range(n_paras)]
    body = "".join(f"<p>{p}</p>" for p in paras)
    page = f'<html><body><div class="nav">{nav}</div>{body}<div>(c)</div></body></html>'
    return page.encode(), sum(map(len, paras))


def txt_payload(rng: random.Random, n_lines: int) -> tuple[bytes, int]:
    lines = [_words(rng, 20) for _ in range(n_lines)]
    return ("  \n\t".join(lines) + "\n\n").encode(), sum(map(len, lines))


# extraction_corpus(): media and text spans per doc, PDF pages and lines
# per page, and every how-many-th HTML payload is all boilerplate (a page
# of nav links only, which yields no main text); which payloads are
# boilerplate and which PDFs are compressed is fixed by position, so that
# every seed gives the same mix of work
MEDIA_PER_DOC = 2
EXTRACT_TEXT_SPANS = 2
PDF_PAGES = 3
LINES_PER_PAGE = 30
BOILERPLATE_EVERY = 5


def boilerplate_payload(rng: random.Random) -> bytes:
    nav = "".join(f'<a href="/p{j}">{_words(rng, 1)}</a> ' for j in range(12))
    return f'<html><body><div class="nav">{nav}</div></body></html>'.encode()


def extraction_corpus(seed: int, n_docs: int) -> tuple[list[dict], list[dict]]:
    """Docs with a few text spans and ``MEDIA_PER_DOC`` ``kind='media'``
    spans, plus the media sidecar.  Formats rotate pdf → html → txt;
    every ``BOILERPLATE_EVERY``-th HTML payload is a page of nav links only
    and every other PDF is Flate-compressed.  All other payloads yield
    non-empty main text, so each of their media spans gains exactly one
    ``media_text`` span after enrichment; the boilerplate rows carry
    ``has_text=False``.  ``text_chars`` is the length of the words a
    payload's text is made of (0 for boilerplate)."""
    rng = random.Random(seed)
    docs, media = [], []
    fmts = ("pdf", "html", "txt")
    k = 0
    for i in range(n_docs):
        doc_id = f"doc-{i:06d}"
        spans, off = [], 0
        for t in range(max(EXTRACT_TEXT_SPANS, MEDIA_PER_DOC)):
            if t < EXTRACT_TEXT_SPANS:
                spans.append(_span("text", doc_text(rng, rng.randint(1, 3)), "", off))
                off += 1
            if t < MEDIA_PER_DOC:
                fmt = fmts[k % 3]
                k += 1
                ref = f"{fmt}:{doc_id}:{t}"
                spans.append(_span("media", "", ref, off))
                off += 1
                nth = (k - 1) // 3  # of this format
                if fmt == "pdf":
                    pages = [[_words(rng, 8) for _ in range(LINES_PER_PAGE)]
                             for _ in range(PDF_PAGES)]
                    payload = pdf_payload(pages, compress=nth % 2 == 1)
                    text_chars = sum(len(ln) for lines in pages for ln in lines)
                elif fmt == "html" and nth % BOILERPLATE_EVERY == 0:
                    payload, text_chars = boilerplate_payload(rng), 0
                elif fmt == "html":
                    payload, text_chars = html_payload(rng, LINES_PER_PAGE // 3)
                else:
                    payload, text_chars = txt_payload(rng, LINES_PER_PAGE)
                media.append({"doc_id": doc_id, "media_ref": ref, "format": fmt,
                              "payload": payload, "has_text": text_chars > 0,
                              "text_chars": text_chars})
        docs.append({"doc_id": doc_id, "spans": spans})
    return docs, media


# ---------------------------------------------------------------------------
# inputs of the traced run's strategy and curation measurements
# ---------------------------------------------------------------------------

# megadoc(): text spans of the one large document, and a figure after
# every FIGURE_EVERY-th of them
MEGADOC_TEXT_SPANS = 4000
FIGURE_EVERY = 10


def megadoc(seed: int, doc_id: str = "doc-mega") -> dict:
    """One boundary-rich document holding thousands of text spans, a
    figure span after about every ``FIGURE_EVERY``-th; with the ordinary
    docs beside it, it holds most of the spans, so the engine's strategy
    picker chooses the exploded conversion on four cores."""
    rng = random.Random(seed)
    spans, off = [], 0
    for t in range(MEGADOC_TEXT_SPANS):
        spans.append(_span("text", doc_text(rng, rng.randint(1, 4)), "", off))
        off += 1
        if t % FIGURE_EVERY == FIGURE_EVERY - 1:
            spans.append(_span("figure", "", f"media://figure/{t:05d}", off))
            off += 1
    return {"doc_id": doc_id, "spans": spans}


def near_duplicate(doc: dict) -> dict:
    """A copy of ``doc`` under the id ``<doc_id>~dup`` (it sorts after the
    original, so near-dup removal keeps the original) whose last text span
    repeats its own first line: the char-shingle sets of the two differ
    only around the join, a Jaccard near 1, while the texts differ."""
    spans = [dict(s) for s in doc["spans"]]
    last = max((s for s in spans if s["kind"] == "text"), key=lambda s: s["offset"])
    last["text"] += "\n" + last["text"].replace("\r", "\n").split("\n")[0]
    return {"doc_id": doc["doc_id"] + "~dup", "spans": spans}


# ---------------------------------------------------------------------------
# sizes, digests, parquet writers
# ---------------------------------------------------------------------------

def text_runs(spans: list[dict]) -> list[str]:
    """The conversion units of one document: maximal runs of consecutive
    ``kind='text'`` spans in offset order, joined with ``\\n``.  Any other
    kind (media, media_text, NULL) ends a run."""
    runs, cur = [], []
    for s in sorted(spans, key=lambda s: s["offset"]):
        if s["kind"] == "text":
            cur.append(s["text"])
        elif cur:
            runs.append("\n".join(cur))
            cur = []
    if cur:
        runs.append("\n".join(cur))
    return runs


def sizes(docs: list[dict], media: list[dict] | None = None) -> dict:
    """Input size as the benchmark reports it."""
    return {
        "docs": len(docs),
        "spans": sum(len(d["spans"]) for d in docs),
        "chars": sum(len(s["text"]) for d in docs for s in d["spans"])
        + sum(m["text_chars"] for m in media or []),
        "media_payloads": len(media or []),
        "media_with_text": sum(m["has_text"] for m in media or []),
        "media_bytes": sum(len(m["payload"]) for m in media or []),
    }


def digest(docs: list[dict], media: list[dict] | None = None) -> str:
    """sha256 over a canonical serialization of the inputs."""
    h = hashlib.sha256()
    for d in docs:
        h.update(json.dumps(d, ensure_ascii=False, sort_keys=True).encode())
    for m in media or []:
        h.update(json.dumps({k: v for k, v in m.items() if k != "payload"}, sort_keys=True).encode())
        h.update(m["payload"])
    return h.hexdigest()


def write_documents(docs: list[dict], path: str, n_files: int) -> None:
    """Parquet documents table, ``n_files`` files of contiguous doc ranges."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
         ("offset", pa.int32())]
    )
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span_t))])
    _write_parts(pa, pq, docs, schema, path, n_files)


def write_media(media: list[dict], path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [("doc_id", pa.string()), ("media_ref", pa.string()), ("format", pa.string()),
         ("payload", pa.binary())]
    )
    _write_parts(pa, pq, media, schema, path, n_files)


def _write_parts(pa, pq, rows, schema, path, n_files) -> None:
    os.makedirs(path, exist_ok=True)
    n_files = max(1, min(n_files, len(rows)))
    step = -(-len(rows) // n_files)
    for p in range(n_files):
        part = rows[p * step:(p + 1) * step]
        if part:
            pq.write_table(
                pa.Table.from_pylist(part, schema=schema),
                os.path.join(path, f"part-{p:05d}.parquet"),
            )
