"""Deterministic synthesis of REAL PDF documents for the PDF extraction
path, in BOTH wild layouts. Returns the bytes plus the template SPEC
(expected blocks per page) so goldens derive from the specification,
never from the parser under test (same pattern as datagen/gen_goldens).

- classic layout: header, object table, Flate or raw content streams,
  ``xref`` table, ``trailer`` keyword dict;
- xref-stream layout (the majority of post-2005 crawl PDFs): catalog /
  pages / font / page dicts packed into a ``/ObjStm`` object stream, a
  ``/Type /XRef`` cross-reference STREAM (W=[1,3,2] fields, type-1 and
  type-2 entries, Flate, PNG Up-predictor ~half the time) doubling as
  the trailer — no ``trailer`` keyword anywhere in the file.

Content variants exercised per block (rng-chosen):
- plain literal string ``(...) Tj``;
- literal with escape-needing chars ``( ) \\`` in the text;
- hex string ``<...> Tj``;
- ``TJ`` array with a word-space kern (``-250``, below the -120 cutoff);
- multi-line blocks (``Td`` line advance inside one BT/ET).
Streams are zlib-compressed ~70% of the time, raw otherwise.
"""

from __future__ import annotations

import random
import zlib

# bump when synth_pdf/_block_content/make_pdf_row change: the corpus
# cache AND the spec-derived golden must move together (a stale cached
# corpus against a fresh golden shows up as spurious oracle failures)
# v2: xref-stream/ObjStm layout for every doc_id % 3 == 1
# v3: composite-font (Type0/ToUnicode) CID text blocks (content kind 5)
PDFGEN_VERSION = 3

WORDS = (
    "spark parquet shuffle codegen arrow batch kernel page region text "
    "broadcast salt skew plan column prune stream state watermark commit"
).split()
FANCY = ["a(b)", "c\\d", "(x)", "q)e("]  # escape-needing payloads


def _escape_literal(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _cid_hex(text: str) -> str:
    """2-byte glyph codes for the synthetic Type0 font: code = 0x0100 +
    ord(ch) — mapped back by the ToUnicode bfrange <0120><017e><0020>."""
    return "".join(f"{0x100 + ord(c):04x}" for c in text)


def _block_content(rng: random.Random, x: int, y: int) -> tuple[str, str]:
    """-> (content-stream snippet inside BT/ET, expected block text)."""
    kind = rng.randint(0, 5)
    if kind == 0:  # plain literal
        text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 10)))
        return f"({_escape_literal(text)}) Tj", text
    if kind == 1:  # escape-needing literal
        text = " ".join(
            rng.choice(WORDS if i % 3 else FANCY) for i in range(rng.randint(3, 8))
        )
        return f"({_escape_literal(text)}) Tj", text
    if kind == 2:  # hex string
        text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 6)))
        return f"<{text.encode('latin-1').hex()}> Tj", text
    if kind == 3:  # TJ with a word-space kern
        a = " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 4)))
        b = " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 4)))
        return (
            f"[({_escape_literal(a)}) -250 ({_escape_literal(b)})] TJ",
            f"{a} {b}",
        )
    if kind == 5:  # composite-font (Type0/CID) text through ToUnicode
        text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 6)))
        return f"/F2 12 Tf <{_cid_hex(text)}> Tj", text
    # multi-line block: Td line advances
    n_lines = rng.randint(2, 3)
    lines = [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 6)))
        for _ in range(n_lines)
    ]
    snippet = f"({_escape_literal(lines[0])}) Tj"
    for ln in lines[1:]:
        snippet += f"\n0 -14 Td ({_escape_literal(ln)}) Tj"
    return snippet, "\n".join(lines)


def _build_content(
    rng: random.Random,
) -> tuple[list[dict], list[bytes], dict[int, bytes], dict[int, bytes], int]:
    """Shared content synthesis: returns (expected blocks,
    page content-stream bytes, dict objects {num: serialized dict},
    content-stream objects {num: dict+stream bytes}, n_pages).
    Object numbering: 1=catalog, 2=pages, 3=font, then per page
    (page dict, content stream)."""
    n_pages = rng.randint(1, 3)
    expected: list[dict] = []
    page_contents: list[bytes] = []
    for page in range(n_pages):
        parts = []
        for _ in range(rng.randint(1, 4)):
            x, y = rng.randint(36, 500), rng.randint(36, 740)
            snippet, text = _block_content(rng, x, y)
            parts.append(f"BT\n/F1 12 Tf\n{x} {y} Td\n{snippet}\nET")
            expected.append({"page": page, "x": float(x), "y": float(y), "text": text})
        page_contents.append("\n".join(parts).encode("latin-1"))

    dict_objs: dict[int, bytes] = {}
    stream_objs: dict[int, bytes] = {}
    kids = []
    # contiguous numbering (classic xref tables have no gaps):
    # 1-3 catalog/pages/F1, then per page (dict, content), then F2 + CMap
    f2_num = 4 + 2 * n_pages
    cmap_num = f2_num + 1
    for i, content in enumerate(page_contents):
        page_num = 4 + 2 * i
        cont_num = page_num + 1
        kids.append(f"{page_num} 0 R")
        dict_objs[page_num] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R /F2 {f2_num} 0 R >> >> "
            f"/Contents {cont_num} 0 R >>".encode()
        )
        if rng.random() < 0.7:
            payload = zlib.compress(content)
            stream_objs[cont_num] = (
                f"<< /Length {len(payload)} /Filter /FlateDecode >>".encode()
                + b"\nstream\n" + payload + b"\nendstream"
            )
        else:
            stream_objs[cont_num] = (
                f"<< /Length {len(content)} >>".encode()
                + b"\nstream\n" + content + b"\nendstream"
            )
    dict_objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    dict_objs[2] = (
        f"<< /Type /Pages /Kids [{' '.join(kids)}] /Count {n_pages} >>".encode()
    )
    dict_objs[3] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    # synthetic composite font: Identity-H Type0 whose ToUnicode maps
    # glyph code 0x0100+ch back to ASCII (one bfrange, see _cid_hex)
    dict_objs[f2_num] = (
        f"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-CID "
        f"/Encoding /Identity-H /ToUnicode {cmap_num} 0 R >>".encode()
    )
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"1 begincodespacerange\n<0000> <ffff>\nendcodespacerange\n"
        b"1 beginbfrange\n<0120> <017e> <0020>\nendbfrange\n"
        b"endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
    )
    if rng.random() < 0.5:
        payload = zlib.compress(cmap)
        stream_objs[cmap_num] = (
            f"<< /Length {len(payload)} /Filter /FlateDecode >>".encode()
            + b"\nstream\n" + payload + b"\nendstream"
        )
    else:
        stream_objs[cmap_num] = (
            f"<< /Length {len(cmap)} >>".encode()
            + b"\nstream\n" + cmap + b"\nendstream"
        )
    return expected, page_contents, dict_objs, stream_objs, n_pages


def synth_pdf(
    rng: random.Random, layout: str = "classic"
) -> tuple[bytes, list[dict]]:
    """One synthetic PDF. Returns (bytes, expected blocks) where each
    expected block is {'page', 'x', 'y', 'text'} in document order.
    ``layout``: 'classic' (xref table + trailer keyword) or
    'xref_stream' (ObjStm-packed dicts + /Type /XRef stream trailer)."""
    expected, _, dict_objs, stream_objs, _ = _build_content(rng)
    if layout == "classic":
        data = _emit_classic(dict_objs, stream_objs)
    elif layout == "xref_stream":
        data = _emit_xref_stream(rng, dict_objs, stream_objs)
    else:
        raise ValueError(f"unknown layout {layout!r}")
    return data, expected


def _emit_classic(dict_objs: dict[int, bytes], stream_objs: dict[int, bytes]) -> bytes:
    objects = {**dict_objs, **stream_objs}
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    xref_at = len(out)
    max_num = max(objects)
    out += f"xref\n0 {max_num + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, max_num + 1):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {max_num + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def _emit_xref_stream(
    rng: random.Random, dict_objs: dict[int, bytes], stream_objs: dict[int, bytes]
) -> bytes:
    """Modern layout: every dict object (catalog/pages/font/page dicts)
    packed into one /ObjStm; content streams top-level; a /Type /XRef
    stream with W=[1,3,2] entries (type-2 for packed objects) is the
    only trailer. PNG Up-predictor (/Predictor 12) ~half the time."""
    objstm_num = max(max(dict_objs), max(stream_objs)) + 1
    xref_num = objstm_num + 1

    # ObjStm payload: "num off num off ..." header then the dicts
    packed = sorted(dict_objs)
    body = bytearray()
    pairs = []
    for num in packed:
        pairs.append(f"{num} {len(body)}")
        body += dict_objs[num] + b"\n"
    header = (" ".join(pairs) + "\n").encode()
    stm_payload = zlib.compress(header + bytes(body))
    objstm = (
        f"<< /Type /ObjStm /N {len(packed)} /First {len(header)} "
        f"/Length {len(stm_payload)} /Filter /FlateDecode >>".encode()
        + b"\nstream\n" + stm_payload + b"\nendstream"
    )

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(stream_objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + stream_objs[num] + b"\nendobj\n"
    offsets[objstm_num] = len(out)
    out += f"{objstm_num} 0 obj\n".encode() + objstm + b"\nendobj\n"
    xref_at = len(out)

    # entries for 0..xref_num: free, type-2 (in ObjStm), type-1 (offset)
    size = xref_num + 1
    rows = []
    for num in range(size):
        if num == 0:
            rows.append((0, 0, 65535))
        elif num in dict_objs:
            rows.append((2, objstm_num, packed.index(num)))
        elif num in offsets:
            rows.append((1, offsets[num], 0))
        elif num == xref_num:
            rows.append((1, xref_at, 0))
        else:
            rows.append((0, 0, 65535))
    raw = b"".join(
        t.to_bytes(1, "big") + f2.to_bytes(3, "big") + f3.to_bytes(2, "big")
        for t, f2, f3 in rows
    )
    if rng.random() < 0.5:  # PNG Up predictor over 6-byte columns
        cols = 6
        pred_rows = bytearray()
        prev = bytes(cols)
        for i in range(0, len(raw), cols):
            row = raw[i : i + cols]
            pred_rows += bytes([2]) + bytes(
                (row[j] - prev[j]) & 0xFF for j in range(cols)
            )
            prev = row
        payload = zlib.compress(bytes(pred_rows))
        parms = " /DecodeParms << /Predictor 12 /Columns 6 >>"
    else:
        payload = zlib.compress(raw)
        parms = ""
    out += (
        f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} /W [1 3 2] "
        f"/Root 1 0 R /Filter /FlateDecode{parms} "
        f"/Length {len(payload)} >>".encode()
        + b"\nstream\n" + payload + b"\nendstream\nendobj\n"
    )
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)


def make_pdf_row(doc_id: int) -> tuple[dict, list[dict]]:
    """Deterministic (row, expected blocks) per doc_id. ~1 in 19 rows is
    a corrupt payload (error-row path); every doc_id % 3 == 1 uses the
    modern xref-stream/ObjStm layout, the rest classic — so the corpus
    (and its spec-derived golden) exercises both wild layouts mixed."""
    rng = random.Random(0x9D7 ^ (doc_id * 0x9E3779B9))
    if doc_id % 19 == 18:
        data = b"%PDF-1.4\n1 0 obj << /Type /Catalog garbage"
        return {"doc_id": doc_id, "pdf": data}, []
    layout = "xref_stream" if doc_id % 3 == 1 else "classic"
    data, expected = synth_pdf(rng, layout=layout)
    return {"doc_id": doc_id, "pdf": data}, expected


def ensure_pdf_parquet(n: int) -> str:
    """Materialize the synthetic PDF table (doc_id, pdf binary) as one
    parquet file (shared by the Spark query and the golden generator)."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .datagen import cache_dir

    path = os.path.join(cache_dir("gocrd_pdf_cache"), f"v{PDFGEN_VERSION}_n{n}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [make_pdf_row(i)[0] for i in range(n)]
        table = pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
                "pdf": pa.array([r["pdf"] for r in rows], pa.binary()),
            }
        )
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        pq.write_table(table, tmp, compression="zstd")
        os.replace(tmp, path)
    return path
