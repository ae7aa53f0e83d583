"""From-scratch binary-PDF decode: real PDF bytes -> span-JSON pages (S1).

The reference opens actual exam PDFs with PyMuPDF and takes per-page text
from ``page.get_text()`` (enem_pdf_extractor.py:947,965 open; :235,276
get_text). This module closes the engine's S1 gap — "no real binary-PDF
decode" — with a pure-stdlib decoder built from the PUBLIC PDF spec
(ISO 32000-1): classic xref AND xref-stream files (object streams are
expanded by scan, so no xref-stream/predictor decode is needed), FlateDecode,
ToUnicode CMaps, /Differences + glyph-name decoding, and a content-stream
interpreter (BT/ET, Tf/Tm/Td/TD/T*/TL/Tc/Tw/Tz, Tj/TJ/'/", q/Q/cm, Do).

Output is the engine's page contract — UTF-8 JSON spans
``[{"text","x0","y0","x1","y1"}]`` with y top-down (layout.py) — so the
ENTIRE existing pipeline (F1 url quarantine, F2 cover skip, column
reconstruction, the oracle string machine, answer keys, sinks) applies to
real PDF bytes unchanged.

Glyph decoding order (per font): ToUnicode CMap first (fitz's rule), then
/Differences glyph names. Subset names ``/gNN`` index the standard
Macintosh glyph order (TrueType spec 'post' table format 1 — public);
Arial-family subsets omit mac-order's nonbreakingspace (gid 172), so ids
>= 172 shift by one. This decodes text the REFERENCE COULD NOT: the shipped
goldens contain ~21k U+FFFD where fitz had no ToUnicode entry for these
subset codes, while this decoder recovers the actual Portuguese text
(tests/test_pdfbin.py gates token recall of the goldens' decodable tokens
— byte-identity against the goldens is impossible on this path without
re-implementing the reference's decode FAILURE, per-glyph U+FFFD plus
geometry-inserted spaces).

Scale shape: decoding is a per-document pure function run inside one Arrow
``mapInPandas`` crossing (no shuffle); a giant PDF is one task until the
page explode, after which rows repartition freely — same skew story as the
page UDF (auto-salt downstream).
"""

from __future__ import annotations

import json
import math
import re
import zlib

from . import staging_path
from .layout import IMG_MARKER  # layout.py is pure stdlib — one sentinel

WS = b"\x00\t\n\x0c\r "
DELIM = b"()<>[]{}/%"

# Standard Macintosh glyph order, TrueType spec 'post' table format 1
# (public). Names resolve to unicode below; '' = no text contribution.
_MAC_NAMES = """.notdef .null nonmarkingreturn space exclam quotedbl numbersign dollar percent ampersand quotesingle parenleft parenright asterisk plus comma hyphen period slash zero one two three four five six seven eight nine colon semicolon less equal greater question at A B C D E F G H I J K L M N O P Q R S T U V W X Y Z bracketleft backslash bracketright asciicircum underscore grave a b c d e f g h i j k l m n o p q r s t u v w x y z braceleft bar braceright asciitilde Adieresis Aring Ccedilla Eacute Ntilde Odieresis Udieresis aacute agrave acircumflex adieresis atilde aring ccedilla eacute egrave ecircumflex edieresis iacute igrave icircumflex idieresis ntilde oacute ograve ocircumflex odieresis otilde uacute ugrave ucircumflex udieresis dagger degree cent sterling section bullet paragraph germandbls registered copyright trademark acute dieresis notequal AE Oslash infinity plusminus lessequal greaterequal yen mu partialdiff summation product pi integral ordfeminine ordmasculine Omega ae oslash questiondown exclamdown logicalnot radical florin approxequal Delta guillemotleft guillemotright ellipsis nonbreakingspace Agrave Atilde Otilde OE oe endash emdash quotedblleft quotedblright quoteleft quoteright divide lozenge ydieresis Ydieresis fraction currency guilsinglleft guilsinglright fi fl daggerdbl periodcentered quotesinglbase quotedblbase perthousand Acircumflex Ecircumflex Aacute Edieresis Egrave Iacute Icircumflex Idieresis Igrave Oacute Ocircumflex apple Ograve Uacute Ucircumflex Ugrave dotlessi circumflex tilde macron breve dotaccent ring cedilla hungarumlaut ogonek caron Lslash lslash Scaron scaron Zcaron zcaron brokenbar Eth eth Yacute yacute Thorn thorn minus multiply onesuperior twosuperior threesuperior onehalf onequarter threequarters franc Gbreve gbreve Idotaccent Scedilla scedilla Cacute cacute Ccaron ccaron dcroat""".split()

_NAME_CHARS = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/", "zero": "0",
    "one": "1", "two": "2", "three": "3", "four": "4", "five": "5",
    "six": "6", "seven": "7", "eight": "8", "nine": "9", "colon": ":",
    "semicolon": ";", "less": "<", "equal": "=", "greater": ">",
    "question": "?", "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_",
    "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
    "asciitilde": "~", "quotedblleft": "“", "quotedblright": "”",
    "quoteleft": "‘", "quoteright": "’",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "ellipsis": "…",
    "bullet": "•", "dagger": "†", "daggerdbl": "‡",
    "perthousand": "‰", "guilsinglleft": "‹",
    "guilsinglright": "›", "guillemotleft": "«",
    "guillemotright": "»", "fi": "ﬁ", "fl": "ﬂ",
    "fraction": "⁄", "periodcentered": "·",
    "nonbreakingspace": " ", "degree": "°", "cent": "¢",
    "sterling": "£", "yen": "¥", "currency": "¤",
    "section": "§", "paragraph": "¶", "copyright": "©",
    "registered": "®", "trademark": "™", "acute": "´",
    "dieresis": "¨", "notequal": "≠", "infinity": "∞",
    "plusminus": "±", "lessequal": "≤",
    "greaterequal": "≥", "mu": "µ", "partialdiff": "∂",
    "summation": "∑", "product": "∏", "pi": "π",
    "integral": "∫", "ordfeminine": "ª",
    "ordmasculine": "º", "Omega": "Ω", "questiondown": "¿",
    "exclamdown": "¡", "logicalnot": "¬", "radical": "√",
    "florin": "ƒ", "approxequal": "≈", "Delta": "Δ",
    "divide": "÷", "lozenge": "◊", "minus": "−",
    "multiply": "×", "onesuperior": "¹",
    "twosuperior": "²", "threesuperior": "³",
    "onehalf": "½", "onequarter": "¼",
    "threequarters": "¾", "franc": "₣", "apple": "",
    "dotlessi": "ı", "circumflex": "ˆ", "tilde": "˜",
    "macron": "¯", "breve": "˘", "dotaccent": "˙",
    "ring": "˚", "cedilla": "¸", "hungarumlaut": "˝",
    "ogonek": "˛", "caron": "ˇ", "germandbls": "ß",
    "AE": "Æ", "ae": "æ", "Oslash": "Ø",
    "oslash": "ø", "OE": "Œ", "oe": "œ",
    "Eth": "Ð", "eth": "ð", "Thorn": "Þ",
    "thorn": "þ", "Lslash": "Ł", "lslash": "ł",
    "brokenbar": "¦", "ydieresis": "ÿ", "Ydieresis": "Ÿ",
    "dcroat": "đ", "Idotaccent": "İ", ".notdef": "",
    ".null": "", "nonmarkingreturn": "",
}
_ACCENTS = {
    "acute": "́", "grave": "̀", "circumflex": "̂",
    "dieresis": "̈", "tilde": "̃", "ring": "̊",
    "cedilla": "̧", "caron": "̌", "breve": "̆",
}


def _safe_chr(cp: int) -> str:
    """chr() that never yields a lone UTF-16 surrogate or out-of-range
    code point — either would crash the payload's .encode('utf-8') far
    outside the per-document corruption guards."""
    if 0xD800 <= cp <= 0xDFFF or cp > 0x10FFFF or cp < 0:
        return "�"
    return chr(cp)


def glyph_name_to_unicode(name: str) -> str | None:
    """Glyph name -> text, or None if unknown. ``gNN`` indexes the mac
    order (Arial subsets skip nonbreakingspace/172 — verified against the
    decoded corpus in tests); accented names compose via NFC."""
    m = re.fullmatch(r"g(\d+)", name)
    if m:
        gid = int(m.group(1))
        if gid >= 172:
            gid += 1
        if gid < len(_MAC_NAMES):
            return glyph_name_to_unicode(_MAC_NAMES[gid])
        return "�"
    if name in _NAME_CHARS:
        return _NAME_CHARS[name]
    if len(name) == 1:
        return name
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4,6})", name)
    if m:
        return _safe_chr(int(m.group(1), 16))
    for suf, comb in _ACCENTS.items():
        if name.endswith(suf) and len(name) == len(suf) + 1:
            import unicodedata

            return unicodedata.normalize("NFC", name[0] + comb)
    return None


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int = 0):
        self.num = num
        self.gen = gen

    def __repr__(self):  # pragma: no cover - debug aid
        return f"{self.num}R"


class Lexer:
    """Byte-level tokenizer over PDF syntax (ISO 32000-1 §7.2)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.d = data
        self.p = pos

    def skip_ws(self) -> None:
        d, p, n = self.d, self.p, len(self.d)
        while p < n:
            c = d[p]
            if c in (0x20, 0x09, 0x0D, 0x0A, 0x0C, 0x00):
                p += 1
            elif c == 0x25:  # % comment to EOL
                while p < n and d[p] not in (0x0D, 0x0A):
                    p += 1
            else:
                break
        self.p = p

    def peek(self) -> bytes:
        self.skip_ws()
        return self.d[self.p : self.p + 1]

    def token(self) -> bytes | None:
        self.skip_ws()
        d, p, n = self.d, self.p, len(self.d)
        if p >= n:
            return None
        c = d[p : p + 1]
        if c in DELIM:
            if d[p : p + 2] in (b"<<", b">>"):
                self.p = p + 2
                return d[p : p + 2]
            self.p = p + 1
            return c
        q = p
        while q < n and d[q] not in _STOP:
            q += 1
        self.p = q
        return d[p:q]


_STOP = frozenset(WS) | frozenset(DELIM)


def parse_object(lx: Lexer, resolve=None):
    """One PDF object (dict/array/name/string/number/ref/bool/null).
    Operator keywords come back as raw bytes — content-stream callers
    dispatch on them; a position that cannot advance returns None so
    corrupt input terminates instead of spinning."""
    t = lx.peek()
    if t == b"<":
        if lx.d[lx.p : lx.p + 2] == b"<<":
            return parse_dict(lx, resolve)
        return parse_hexstring(lx)
    if t == b"(":
        return parse_litstring(lx)
    if t == b"/":
        return parse_name(lx)
    if t == b"[":
        lx.p += 1
        arr = []
        while True:
            if lx.peek() == b"]":
                lx.p += 1
                return arr
            before = lx.p
            arr.append(parse_object(lx, resolve))
            if lx.p == before:  # corrupt: no progress
                return arr
    tok = lx.token()
    if tok is None:
        return None
    # numbers first — they dominate content streams (path/kerning operands)
    try:
        iv = int(tok)
    except ValueError:
        pass
    else:
        # "N G R" indirect-reference lookahead only where refs can occur:
        # content streams call with resolve=None and skip two token()
        # round-trips per numeric operand (measured ~35% of decode time)
        if resolve is not None and iv >= 0:
            save = lx.p
            t2 = lx.token()
            if t2 is not None and t2.isdigit():
                t3 = lx.token()
                if t3 == b"R":
                    return Ref(iv, int(t2))
            lx.p = save
        return iv
    try:
        return float(tok)
    except ValueError:
        pass
    if tok == b"true":
        return True
    if tok == b"false":
        return False
    if tok == b"null":
        return None
    return tok  # operator keyword


def parse_name(lx: Lexer) -> bytes:
    lx.skip_ws()
    d = lx.d
    p = lx.p + 1
    q = p
    n = len(d)
    while q < n and d[q : q + 1] not in WS and d[q : q + 1] not in DELIM:
        q += 1
    raw = d[p:q]
    lx.p = q
    if b"#" in raw:
        raw = re.sub(
            rb"#([0-9A-Fa-f]{2})",
            lambda m: bytes([int(m.group(1), 16)]),
            raw,
        )
    return b"/" + raw


def parse_dict(lx: Lexer, resolve):
    lx.skip_ws()
    lx.p += 2  # <<
    out: dict = {}
    while True:
        t = lx.peek()
        if t == b">" or t == b"":
            lx.p += 2 if lx.d[lx.p : lx.p + 2] == b">>" else 0
            break
        if t != b"/":  # corrupt key: bail rather than loop
            break
        key = parse_name(lx)
        out[key] = parse_object(lx, resolve)
    # optional stream body
    save = lx.p
    tok = lx.token()
    if tok == b"stream":
        d, p = lx.d, lx.p
        if d[p : p + 2] == b"\r\n":
            p += 2
        elif d[p : p + 1] in (b"\n", b"\r"):
            p += 1
        length = out.get(b"/Length")
        if resolve is not None and isinstance(length, Ref):
            length = resolve(length)
        if isinstance(length, int) and 0 <= length <= len(d) - p:
            raw = d[p : p + length]
            lx.p = p + length
            if lx.token() != b"endstream":  # /Length lied: rescan
                idx = d.find(b"endstream", p)
                raw = d[p : idx if idx >= 0 else len(d)].rstrip(b"\r\n")
                lx.p = (idx if idx >= 0 else len(d)) + 9
        else:
            idx = d.find(b"endstream", p)
            raw = d[p : idx if idx >= 0 else len(d)].rstrip(b"\r\n")
            lx.p = (idx if idx >= 0 else len(d)) + 9
        out[b"__stream__"] = raw
    else:
        lx.p = save
    return out


def parse_litstring(lx: Lexer) -> bytes:
    d = lx.d
    p = lx.p + 1
    out = bytearray()
    depth = 1
    n = len(d)
    while p < n:
        c = d[p]
        if c == 0x5C:  # backslash escape
            p += 1
            c2 = d[p : p + 1]
            if not c2:  # truncated at the escape: stop, keep the prefix
                break
            if c2 == b"n":
                out += b"\n"
            elif c2 == b"r":
                out += b"\r"
            elif c2 == b"t":
                out += b"\t"
            elif c2 == b"b":
                out += b"\b"
            elif c2 == b"f":
                out += b"\x0c"
            elif c2 in b"01234567":
                # length guards matter: an EMPTY slice is "in" any bytes,
                # so a string truncated mid-octal would otherwise spin
                oct_ = bytes(c2)
                while (
                    len(oct_) < 3
                    and len(d[p + 1 : p + 2]) == 1
                    and d[p + 1 : p + 2] in b"01234567"
                ):
                    p += 1
                    oct_ += d[p : p + 1]
                out.append(int(oct_, 8) & 0xFF)
            elif c2 in (b"\r", b"\n"):  # line continuation
                if c2 == b"\r" and d[p + 1 : p + 2] == b"\n":
                    p += 1
            else:
                out += c2
            p += 1
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                p += 1
                break
        out.append(c)
        p += 1
    lx.p = p
    return bytes(out)


def parse_hexstring(lx: Lexer) -> bytes:
    d = lx.d
    p = lx.p + 1
    idx = d.find(b">", p)
    if idx < 0:
        idx = len(d)
    hx = re.sub(rb"[^0-9A-Fa-f]", b"", d[p:idx])
    if len(hx) % 2:
        hx += b"0"
    lx.p = idx + 1
    return bytes.fromhex(hx.decode("ascii"))


def _apply_stream_filters(raw: bytes, filters: list) -> bytes:
    """Apply a /Filter chain's byte-level filters in order (FlateDecode,
    ASCIIHexDecode). Image codecs (DCT/JPX/CCITT) are NOT byte filters —
    callers strip them off and hand the remaining chain here (a stream
    like [/ASCIIHexDecode /DCTDecode] must be hex-decoded before the JPEG
    decoder sees it)."""
    for f in filters:
        if f == b"/FlateDecode":
            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                try:  # truncated stream: salvage the prefix
                    raw = zlib.decompressobj().decompress(raw)
                except zlib.error:
                    return b""
        elif f == b"/ASCIIHexDecode":
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", raw.split(b">")[0])
            raw = bytes.fromhex(
                hx.decode("ascii") + ("0" if len(hx) % 2 else "")
            )
        # image codecs (DCT etc.) are decoded by their own branch
    return raw


class PDFFile:
    """Object store over one PDF byte string.

    Objects are located by a SEQUENTIAL WALK over ``N G obj ... endobj``
    units — each object is parsed in place and the scan resumes after it,
    so ``N G obj`` byte patterns INSIDE stream bodies can never shadow a
    real object. Later definitions override earlier ones (incremental
    updates append), and /ObjStm containers are expanded with the same
    offset-ordered newest-wins rule, which makes xref tables, xref
    streams, and their predictors all unnecessary: the same loader
    handles the reference corpus's classic-xref (2020/22/23) and
    xref-stream + object-stream (2021) files alike."""

    def __init__(self, data: bytes):
        self.data = data
        self.objs: dict[int, int] = {}
        self.cache: dict[int, object] = {}
        header = re.compile(rb"(\d+)\s+\d+\s+obj\b")
        pos = 0
        while True:
            m = header.search(data, pos)
            if m is None:
                break
            off = m.start(1)
            lx = Lexer(data, m.end())
            try:
                val = parse_object(lx, resolve=self.get)
            except Exception:
                pos = m.end()
                continue
            num = int(m.group(1))
            self.objs[num] = off  # later (appended update) wins
            self.cache[num] = val
            pos = max(lx.p, m.end())
        for num in sorted(self.objs, key=self.objs.__getitem__):
            obj = self.cache.get(num)
            if isinstance(obj, dict) and obj.get(b"/Type") == b"/ObjStm":
                self._expand_objstm(obj, self.objs[num])
        roots = re.findall(rb"/Root\s+(\d+)\s+\d+\s+R", data)
        self.root = self.get(Ref(int(roots[-1]))) if roots else None

    def _expand_objstm(self, obj: dict, container_off: int) -> None:
        """Expand one object stream; an embedded definition wins over a
        prior one only when its CONTAINER sits later in the file (the
        revision that appended it is newer)."""
        try:
            body = self.stream_data(obj)
            first = self.get(obj[b"/First"])
            hlx = Lexer(body)
            pairs = []
            for _ in range(self.get(obj[b"/N"])):
                onum = parse_object(hlx)
                ooff = parse_object(hlx)
                if not isinstance(onum, int) or not isinstance(ooff, int):
                    break
                pairs.append((onum, ooff))
            for onum, ooff in pairs:
                if onum in self.objs and self.objs[onum] >= container_off:
                    continue
                olx = Lexer(body, first + ooff)
                self.cache[onum] = parse_object(olx, resolve=self.get)
                self.objs[onum] = container_off
        except Exception:
            return  # one bad container must not kill the doc

    def get(self, ref):
        if not isinstance(ref, Ref):
            return ref
        if ref.num in self.cache:
            return self.cache[ref.num]
        off = self.objs.get(ref.num)
        if off is None:
            return None
        lx = Lexer(self.data, off)
        lx.token(), lx.token(), lx.token()  # num gen obj
        val = parse_object(lx, resolve=self.get)
        self.cache[ref.num] = val
        return val

    def stream_data(self, obj: dict) -> bytes:
        raw = obj.get(b"__stream__", b"")
        filt = self.get(obj.get(b"/Filter"))
        filters = filt if isinstance(filt, list) else [filt] if filt else []
        return _apply_stream_filters(raw, filters)

    def pages(self) -> list[tuple[dict, dict]]:
        """Page-tree walk with attribute inheritance (§7.7.3.4)."""
        out: list[tuple[dict, dict]] = []
        if not isinstance(self.root, dict):
            return out
        seen: set[int] = set()

        def walk(node_ref, inherited):
            if isinstance(node_ref, Ref):
                if node_ref.num in seen:  # cycle guard
                    return
                seen.add(node_ref.num)
            node = self.get(node_ref)
            if not isinstance(node, dict):
                return
            inh = dict(inherited)
            for k in (b"/Resources", b"/MediaBox", b"/Rotate"):
                if k in node:
                    inh[k] = node[k]
            if node.get(b"/Type") == b"/Pages":
                kids = self.get(node.get(b"/Kids"))
                for kid in kids if isinstance(kids, list) else []:
                    walk(kid, inh)
            elif node.get(b"/Type") == b"/Page":
                out.append((node, inh))

        walk(self.root.get(b"/Pages"), {})
        return out


def parse_cmap(data: bytes) -> dict[int, str]:
    """ToUnicode CMap: bfchar + bfrange (both scalar-base and array dst)."""
    out: dict[int, str] = {}
    for mm in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        for src, dst in re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", mm.group(1)
        ):
            out[int(src, 16)] = bytes.fromhex(dst.decode("ascii")).decode(
                "utf-16-be", "replace"
            )
    for mm in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        body = mm.group(1)
        lx = Lexer(body)
        while True:
            lx.skip_ws()
            if lx.p >= len(body):
                break
            before = lx.p
            lo = parse_object(lx)
            hi = parse_object(lx)
            dst = parse_object(lx)
            if lx.p == before or not isinstance(lo, bytes) or not isinstance(hi, bytes):
                break
            lo_i, hi_i = int(lo.hex(), 16), int(hi.hex(), 16)
            if hi_i - lo_i > 0x10000:  # corrupt range bound
                break
            if isinstance(dst, list):
                for i, u in enumerate(dst):
                    if isinstance(u, bytes):
                        out[lo_i + i] = u.decode("utf-16-be", "replace")
            elif isinstance(dst, bytes):
                base = int(dst.hex(), 16) if dst else 0
                for i in range(hi_i - lo_i + 1):
                    out[lo_i + i] = _safe_chr(base + i)
    return out


class Font:
    """code -> (text, advance-width/1000) decoder for one font resource."""

    def __init__(self, pdf: PDFFile, obj: dict):
        self.two_byte = obj.get(b"/Subtype") == b"/Type0"
        self.map: dict[int, str] | None = None
        tu = pdf.get(obj.get(b"/ToUnicode"))
        if isinstance(tu, dict):
            self.map = parse_cmap(pdf.stream_data(tu))
        self.diff: dict[int, str] = {}
        enc = pdf.get(obj.get(b"/Encoding"))
        if isinstance(enc, dict) and b"/Differences" in enc:
            code = 0
            for item in pdf.get(enc[b"/Differences"]) or []:
                if isinstance(item, int):
                    code = item
                elif isinstance(item, bytes):
                    u = glyph_name_to_unicode(item[1:].decode("latin-1"))
                    if u is not None:
                        self.diff[code] = u
                    code += 1
                else:
                    code += 1
        self.first = pdf.get(obj.get(b"/FirstChar"))
        self.widths = pdf.get(obj.get(b"/Widths")) or []
        self.default_w = 500.0
        self.cid_w: dict[int, float] = {}
        if self.two_byte:
            desc = pdf.get(obj.get(b"/DescendantFonts"))
            if isinstance(desc, list) and desc:
                d0 = pdf.get(desc[0])
                if isinstance(d0, dict):
                    self.default_w = float(pdf.get(d0.get(b"/DW")) or 1000)
                    w = pdf.get(d0.get(b"/W")) or []
                    i = 0
                    while i < len(w) - 1:
                        c = pdf.get(w[i])
                        nxt = pdf.get(w[i + 1])
                        if isinstance(nxt, list):
                            for j, wv in enumerate(nxt):
                                if isinstance(wv, (int, float)):
                                    self.cid_w[int(c) + j] = float(wv)
                            i += 2
                        elif i + 2 < len(w):
                            for cid in range(int(c), int(nxt) + 1):
                                self.cid_w[cid] = float(pdf.get(w[i + 2]))
                            i += 3
                        else:
                            break

    def _char_w(self, code: int) -> float:
        if self.two_byte:
            return self.cid_w.get(code, self.default_w)
        if (
            isinstance(self.first, int)
            and 0 <= code - self.first < len(self.widths)
        ):
            w = self.widths[code - self.first]
            if isinstance(w, (int, float)):
                return float(w)
        return self.default_w

    def decode(self, s: bytes) -> list[tuple[str, float]]:
        """Per-code (text, width/1000) pairs."""
        out = []
        if self.two_byte:
            for i in range(0, len(s) - 1, 2):
                code = (s[i] << 8) | s[i + 1]
                u = self.map.get(code, "�") if self.map else "�"
                out.append((u, self._char_w(code) / 1000.0))
        else:
            for b in s:
                if self.map and b in self.map:
                    u = self.map[b]
                elif b in self.diff:
                    u = self.diff[b]
                else:
                    u = bytes([b]).decode("cp1252", "replace")
                out.append((u, self._char_w(b) / 1000.0))
        return out


def _mat_mul(a, b):
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _interpret(pdf, data, resources, ctm0, runs, depth=0):
    """Content-stream text interpreter. Appends (x, y, text, size, width)
    device-space runs; recurses into Form XObjects (depth-capped) and
    emits IMG_MARKER runs for Image XObjects."""
    res = pdf.get(resources) or {}
    fonts_d = pdf.get(res.get(b"/Font")) or {}
    fonts = {}
    xobjs = pdf.get(res.get(b"/XObject")) or {}
    lx = Lexer(data)
    gs_stack: list = []
    ctm = ctm0
    tm = tlm = _ID
    font: Font | None = None
    size = char_sp = word_sp = 0.0
    hscale = 1.0
    leading = 0.0
    operands: list = []

    def show(s: bytes, adj_done: bool = False):
        nonlocal tm
        if not isinstance(s, bytes) or font is None:
            return
        m = _mat_mul(tm, ctm)
        scale = abs(m[0]) or abs(m[1]) or 1.0
        pieces = font.decode(s)
        # tab glyphs (InDesign tab stops carry U+0009 in ToUnicode) read
        # as plain spaces, as the reference's fitz text does
        text = "".join(p[0] for p in pieces).replace("\t", " ")
        w_tx = 0.0
        for ch, w in pieces:
            w_tx += (w * size + char_sp + (word_sp if ch == " " else 0.0)) * hscale
        if text:
            runs.append((m[4], m[5], text, size * scale, w_tx * scale))
        tm = _mat_mul((1, 0, 0, 1, w_tx, 0), tm)

    while True:
        lx.skip_ws()
        if lx.p >= len(data):
            break
        c = data[lx.p : lx.p + 1]
        if c in b"/<([" or c in b"+-." or c.isdigit():
            before = lx.p
            operands.append(parse_object(lx))
            if lx.p == before:
                break
            continue
        op = lx.token()
        if op is None:
            break
        try:
            if op == b"q":
                # ISO 32000-1 §8.4.2: the saved graphics state includes
                # the TEXT state — a font/size/spacing set inside q..Q
                # must not leak (an inflated size would change the
                # assembly's em-relative gap splits downstream)
                gs_stack.append(
                    (ctm, font, size, char_sp, word_sp, hscale, leading)
                )
            elif op == b"Q":
                if gs_stack:
                    (
                        ctm,
                        font,
                        size,
                        char_sp,
                        word_sp,
                        hscale,
                        leading,
                    ) = gs_stack.pop()
            elif op == b"cm" and len(operands) >= 6:
                ctm = _mat_mul(tuple(float(x) for x in operands[-6:]), ctm)
            elif op == b"BT":
                tm = tlm = _ID
            elif op == b"Tf" and len(operands) >= 2:
                f = fonts_d.get(operands[-2])
                if operands[-2] not in fonts and f is not None:
                    fobj = pdf.get(f)
                    fonts[operands[-2]] = (
                        Font(pdf, fobj) if isinstance(fobj, dict) else None
                    )
                font = fonts.get(operands[-2])
                size = float(operands[-1])
            elif op == b"Tm" and len(operands) >= 6:
                tm = tlm = tuple(float(x) for x in operands[-6:])
            elif op == b"Td" and len(operands) >= 2:
                tlm = _mat_mul(
                    (1, 0, 0, 1, float(operands[-2]), float(operands[-1])), tlm
                )
                tm = tlm
            elif op == b"TD" and len(operands) >= 2:
                leading = -float(operands[-1])
                tlm = _mat_mul(
                    (1, 0, 0, 1, float(operands[-2]), float(operands[-1])), tlm
                )
                tm = tlm
            elif op == b"TL" and operands:
                leading = float(operands[-1])
            elif op == b"Tc" and operands:
                char_sp = float(operands[-1])
            elif op == b"Tw" and operands:
                word_sp = float(operands[-1])
            elif op == b"Tz" and operands:
                hscale = float(operands[-1]) / 100.0
            elif op == b"T*":
                tlm = _mat_mul((1, 0, 0, 1, 0, -leading), tlm)
                tm = tlm
            elif op == b"Tj" and operands:
                show(operands[-1])
            elif op == b"'" and operands:
                tlm = _mat_mul((1, 0, 0, 1, 0, -leading), tlm)
                tm = tlm
                show(operands[-1])
            elif op == b'"' and len(operands) >= 3:
                word_sp = float(operands[-3])
                char_sp = float(operands[-2])
                tlm = _mat_mul((1, 0, 0, 1, 0, -leading), tlm)
                tm = tlm
                show(operands[-1])
            elif op == b"TJ" and operands:
                arr = operands[-1]
                if isinstance(arr, list):
                    for item in arr:
                        if isinstance(item, bytes):
                            show(item)
                        elif isinstance(item, (int, float)):
                            tm = _mat_mul(
                                (
                                    1, 0, 0, 1,
                                    -float(item) / 1000.0 * size * hscale,
                                    0,
                                ),
                                tm,
                            )
            elif op == b"Do" and operands:
                xo = pdf.get(xobjs.get(operands[-1]))
                if isinstance(xo, dict):
                    sub = xo.get(b"/Subtype")
                    if sub == b"/Image":
                        # unit square -> device: bbox from the CTM
                        runs.append(
                            (ctm[4], ctm[5], IMG_MARKER, abs(ctm[3]) or 1.0,
                             abs(ctm[0]) or 1.0)
                        )
                    elif sub == b"/Form" and depth < 8:
                        mtx = pdf.get(xo.get(b"/Matrix"))
                        inner = (
                            _mat_mul(tuple(float(v) for v in mtx), ctm)
                            if isinstance(mtx, list) and len(mtx) == 6
                            else ctm
                        )
                        _interpret(
                            pdf,
                            pdf.stream_data(xo),
                            xo.get(b"/Resources") or res,
                            inner,
                            runs,
                            depth + 1,
                        )
            elif op == b"BI":  # inline image: skip to EI
                idx = data.find(b"EI", lx.p)
                lx.p = idx + 2 if idx >= 0 else len(data)
        except (TypeError, ValueError, AttributeError):
            pass  # one malformed operator must not kill the page
        operands = []


def decode_pdf_pages(data: bytes) -> list[list[dict]]:
    """PDF bytes -> per-page span lists (the layout.py page contract).

    y is flipped to top-down (PDF device space is bottom-up); x1 derives
    from the interpreter's width accounting (font /Widths + Tc/Tw/Tz).
    Runs sharing a (column, baseline) merge into one span in x order —
    PyMuPDF's line grouping, which the oracle's string machine was built
    against — with a space inserted only across a real gap (> 0.3 em).
    Any failure returns the pages decoded so far or [] — the charset
    invariant (one bad document must not kill a job) applies here too."""
    out: list[list[dict]] = []
    try:
        pdf = PDFFile(data)
        for page, inh in pdf.pages():
            try:
                media = pdf.get(inh.get(b"/MediaBox")) or [0, 0, 612, 792]
                media = [float(pdf.get(v) or 0) for v in media]
                page_h = media[3] - media[1]
                page_w = media[2] - media[0]
                content = pdf.get(page.get(b"/Contents"))
                if isinstance(content, list):
                    body = b"\n".join(
                        pdf.stream_data(pdf.get(c))
                        for c in content
                        if isinstance(pdf.get(c), dict)
                    )
                elif isinstance(content, dict):
                    body = pdf.stream_data(content)
                else:
                    body = b""
                runs: list = []
                _interpret(
                    pdf, body, inh.get(b"/Resources"), _ID, runs
                )
                out.append(_assemble_spans(runs, page_w, page_h))
            except Exception:
                out.append([])  # bad page flows through as empty (F4-like)
    except Exception:
        return out
    return out


def _assemble_spans(runs, page_w: float, page_h: float) -> list[dict]:
    """Merge same-baseline runs into line spans, flip y, order by EMISSION.

    Spans come out in content-stream (emission) order and carry a "seq"
    field: PDF producers emit one text frame (column) at a time, so
    emission order IS reading order — exactly the order PyMuPDF's
    get_text() gave the reference (enem_pdf_extractor.py:235,276).
    Geometric re-clustering is strictly worse here: an in-column table
    fills the x0 histogram and defeats any column-split heuristic
    (measured: interleaved columns on table pages). layout.py's
    reconstruct_page honors "seq" and keeps geometric clustering only
    for payloads without it (the synthetic corpus).

    Within a baseline, a gap > 1 em splits segments — the two columns of
    a page, and the cells of a table: the reference's answer-key filter
    (enem_pdf_extractor.py:951-952, `^.{4,}$`) and offset probe
    (:189-226) assume fitz's cell-per-line answer-key text. An
    exact-duplicate run (faux-bold double draw — the alternative
    letters) becomes its OWN span just before its line, which is what
    fitz produced ("A\\nA body") and what the oracle's DOUBLED_LETTER
    collapse (:111) parses."""
    def _r2(v: float) -> float:
        # content streams parse coords with bare float(): '1e999 0 Td'
        # yields inf, json round-trips it as Infinity, and the payload
        # validator (layout._parse_spans) then DROPS the span — the
        # pages-table text column would keep text every payload consumer
        # loses. Clamp non-finite to 0.0 at emission so payload spans are
        # finite BY CONSTRUCTION (pdf_to_pages == reconstruct_page).
        v = round(v, 2)
        return v if math.isfinite(v) else 0.0

    img_spans: list[tuple[int, dict]] = []
    lines: dict[float, list] = {}
    for idx, (x, y, text, size, width) in enumerate(runs):
        if text == IMG_MARKER:
            y_top = page_h - y - size
            img_spans.append(
                (
                    idx,
                    {
                        "text": text,
                        "x0": _r2(x),
                        "y0": _r2(y_top),
                        "x1": _r2(x + max(width, 1.0)),
                        "y1": _r2(y_top + size),
                    },
                )
            )
            continue
        lines.setdefault(round(-y, 1), []).append((x, y, text, size, width, idx))
    # merge a SMALLER-font near baseline (within 0.4 em, size <= 0.75x)
    # into the line above: subscripts sit a few points off the text line
    # (ZnSO4, matrix indices) and must join it in x order, as fitz's
    # overlap-based lines did. The size gate keeps same-size neighbors
    # (alternative-letter marks drawn slightly off the body baseline)
    # on their own lines — the oracle's letter formats depend on that.
    merged: list[list] = []
    last_y = None
    last_sz = 0.0
    for baseline in sorted(lines):
        runs_at = lines[baseline]
        sz = max(r[3] for r in runs_at)
        if (
            last_y is not None
            and (-baseline) >= last_y - 0.4 * max(last_sz, 1.0)
            and sz <= 0.75 * last_sz
        ):
            merged[-1].extend(runs_at)  # anchor stays: no chain-merging
        else:
            merged.append(list(runs_at))
            last_y = -baseline
            last_sz = sz
    keyed: list[tuple[int, int, dict]] = [(i, 1, s) for i, s in img_spans]
    for raw in merged:
        seen: set = set()
        parts, dups = [], []
        for r in sorted(raw, key=lambda r: (r[0], r[5])):
            k = r[:5]
            if k in seen:
                dups.append(r)
            else:
                seen.add(k)
                parts.append(r)
        groups: list[list] = [[parts[0]]]
        for prev, cur in zip(parts, parts[1:]):
            gap = cur[0] - (prev[0] + max(prev[4], 0.0))
            if gap > 1.0 * max(cur[3], 1.0):
                groups.append([cur])
            else:
                groups[-1].append(cur)
        for grp in groups:
            text = ""
            last_end = None
            sz = max(p[3] for p in grp)
            emit = min(p[5] for p in grp)
            for x, y, t, s, w, _ in grp:
                if last_end is not None and x - last_end > 0.3 * max(s, 1.0):
                    if not text.endswith(" ") and not t.startswith(" "):
                        text += " "
                text += t
                last_end = x + max(w, 0.0)
            x0 = grp[0][0]
            x1 = grp[-1][0] + max(grp[-1][4], 0.0)
            y_top = page_h - grp[0][1] - sz
            span = {
                "text": text,
                "x0": _r2(x0),
                "y0": _r2(y_top),
                "x1": _r2(x1),
                "y1": _r2(y_top + sz),
            }
            # a duplicate glyph inside this segment's x range becomes a
            # standalone span ordered just BEFORE the line (tiebreak 0<1)
            for dx, dy, dt, ds, dw, _ in dups:
                if x0 - 0.5 <= dx <= x1 + 0.5:
                    dy_top = page_h - dy - ds
                    keyed.append(
                        (
                            emit,
                            0,
                            {
                                "text": dt,
                                "x0": _r2(dx),
                                "y0": _r2(dy_top),
                                "x1": _r2(dx + max(dw, 0.0)),
                                "y1": _r2(dy_top + ds),
                            },
                        )
                    )
            keyed.append((emit, 1, span))
    keyed.sort(key=lambda t: (t[0], t[1]))
    out = []
    for seq, (_, _, span) in enumerate(keyed):
        span["seq"] = seq
        out.append(span)
    return out


def pdf_to_span_payloads(data: bytes) -> list[bytes]:
    """Per-page UTF-8 span-JSON payloads — the pages-table ``html`` column.

    errors="replace" is the last line of the one-bad-document defense: a
    surrogate that slipped through every decode guard (e.g. via a
    ToUnicode dst decoded with utf-16 "replace" semantics) must become
    U+FFFD in the payload, never an executor-killing UnicodeEncodeError."""
    return [payload for payload, _ in pdf_to_pages(data)]


def pdf_to_pages(data: bytes) -> list[tuple[bytes, str]]:
    """Per-page (span-JSON payload, reading-order text) in ONE decode pass.

    The text equals layout.reconstruct_page(payload)[0] BY CONSTRUCTION
    (same seq sort, same marker drop, and the span text is round-tripped
    through the same utf-8 "replace" encode the payload gets, so a
    surrogate that became U+FFFD in the payload becomes U+FFFD here too
    — equality is pinned in test_pdfbin). pdfsource previously re-parsed
    + re-validated the JSON it had just serialized for every page; this
    derives both columns from the in-memory span list."""
    from .layout import IMG_MARKER

    out = []
    for spans in decode_pdf_pages(data):
        payload = json.dumps(spans, ensure_ascii=False).encode(
            "utf-8", "replace"
        )
        ordered = sorted(spans, key=lambda s: s["seq"])
        text = "\n".join(
            s["text"].encode("utf-8", "replace").decode("utf-8")
            for s in ordered
            if s["text"] != IMG_MARKER
        )
        out.append((payload, text))
    return out


# ---------------------------------------------------------------------------
# deterministic PDF synthesis (driver round-trip gate)
# ---------------------------------------------------------------------------

PDF_LINES_PER_PAGE = 4
PDF_PAGES_PER_DOC = 2
PDF_WRAP_COLS = 40


def doc_pdf_lines(text: str | None) -> list[list[str]]:
    """Deterministic page/line layout for one document's text: cp1252-safe
    tokens wrapped at PDF_WRAP_COLS, PDF_LINES_PER_PAGE lines on each of
    PDF_PAGES_PER_DOC pages. Shared by the generator AND the expected
    staging — the driver twin compares the Spark decode against THESE
    lines (pre-encode), certifying the synth->parse round trip the way
    the WARC twin certifies its container format."""
    toks = (text or "").split()
    lines: list[str] = []
    cur = ""
    for t in toks:
        t = t.encode("cp1252", "replace").decode("cp1252")
        if cur and len(cur) + 1 + len(t) > PDF_WRAP_COLS:
            lines.append(cur)
            if len(lines) >= PDF_LINES_PER_PAGE * PDF_PAGES_PER_DOC:
                break
            cur = t
        else:
            cur = f"{cur} {t}" if cur else t
    if cur and len(lines) < PDF_LINES_PER_PAGE * PDF_PAGES_PER_DOC:
        lines.append(cur)
    return [
        lines[p * PDF_LINES_PER_PAGE : (p + 1) * PDF_LINES_PER_PAGE]
        for p in range(PDF_PAGES_PER_DOC)
    ]


def _pdf_escape(s: str) -> bytes:
    raw = s.encode("cp1252", "replace")
    return raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def _encode_predictor_up(samples: bytes, stride: int) -> bytes:
    """PNG predictor pre-filtering with the Up filter on every row (the
    inverse of imaging.unpredict's ft==2 branch) — used by synth_pdf to
    plant /Predictor 15 streams the extractor must undo."""
    out = bytearray()
    prev = b"\x00" * stride
    for r in range(0, len(samples) // stride * stride, stride):
        row = samples[r : r + stride]
        out += b"\x02" + bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        prev = row
    return bytes(out)


def _image_xobject_bytes(spec: dict, smask_ref: int | None) -> bytes:
    """One image-XObject object body from a synth image spec (see
    synth_doc_images). Samples are always FlateDecode; 'predictor' wraps
    them in PNG-Up pre-filtering with matching /DecodeParms."""
    w, h, kind = spec["width"], spec["height"], spec["kind"]
    samples = spec["samples"]
    if kind == "ccitt":
        from . import imaging

        z = imaging.ccitt_g4_encode(samples, w, h)
        return (
            b"<</Type/XObject/Subtype/Image/Width %d/Height %d"
            b"/BitsPerComponent 1/ColorSpace/DeviceGray"
            b"/Filter/CCITTFaxDecode/DecodeParms<</K -1/Columns %d>>"
            b"/Length %d>>\nstream\n%s\nendstream" % (w, h, w, len(z), z)
        )
    chans = {"gray": 1, "rgb": 3, "cmyk": 4, "indexed": 1}[kind]
    parms = b""
    if spec.get("predictor"):
        samples = _encode_predictor_up(samples, w * chans)
        parms = (
            b"/DecodeParms<</Predictor 15/Colors %d/BitsPerComponent 8"
            b"/Columns %d>>" % (chans, w)
        )
    if kind == "indexed":
        pal = spec["palette"]
        cs = b"[/Indexed/DeviceRGB %d<%s>]" % (
            spec["hival"],
            pal.hex().encode("ascii"),
        )
    else:
        cs = {
            "gray": b"/DeviceGray",
            "rgb": b"/DeviceRGB",
            "cmyk": b"/DeviceCMYK",
        }[kind]
    sm = b"/SMask %d 0 R" % smask_ref if smask_ref else b""
    z = zlib.compress(samples, 6)
    return (
        b"<</Type/XObject/Subtype/Image/Width %d/Height %d"
        b"/BitsPerComponent 8/ColorSpace %s%s%s/Filter/FlateDecode"
        b"/Length %d>>\nstream\n%s\nendstream" % (w, h, cs, parms, sm, len(z), z)
    )


def synth_pdf(
    pages: list[list[str]], images: list[list[dict]] | None = None
) -> bytes:
    """A minimal, VALID classic-xref PDF (Helvetica/WinAnsi, Flate-free
    text) placing each line as one Tj in two columns. Deterministic bytes
    for deterministic input — no timestamps, fixed object order.

    ``images`` (optional, aligned with ``pages``) embeds FlateDecode
    image XObjects per page — specs per synth_doc_images — referenced
    from the page's /Resources/XObject and painted with a cm+Do pair, so
    both this repo's extractor and any conforming reader see them."""
    objs: list[bytes] = []  # 1-indexed
    n_pages = len(pages)
    # obj layout: 1 Catalog, 2 Pages, 3 Font, then (Page, Contents) pairs,
    # then all image (+smask) objects appended at the end
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<</Type/Catalog/Pages 2 0 R>>")
    objs.append(
        f"<</Type/Pages/Kids [{kids}]/Count {n_pages}"
        f"/MediaBox [0 0 595 842]>>".encode()
    )
    objs.append(
        b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica"
        b"/Encoding/WinAnsiEncoding>>"
    )
    # pre-assign image object numbers (they are emitted AFTER the pages)
    next_num = 3 + 2 * n_pages + 1
    img_plan: list[tuple[int, dict, int | None]] = []  # (num, spec, smask)
    page_imgs: list[list[tuple[bytes, int]]] = []
    for i in range(n_pages):
        row = []
        for spec in (images[i] if images and i < len(images) else []):
            smask_num = None
            if spec.get("smask") is not None:
                smask_num = next_num
                next_num += 1
            num = next_num
            next_num += 1
            img_plan.append((num, spec, smask_num))
            row.append((b"/Im%d" % num, num))
        page_imgs.append(row)
    for i, lines in enumerate(pages):
        content = bytearray(b"BT\n/F1 10 Tf\n")
        half = (len(lines) + 1) // 2
        for j, line in enumerate(lines):
            x = 50 if j < half else 320
            y = 780 - 15 * (j if j < half else j - half) - (1 if j >= half else 0)
            content += b"1 0 0 1 %d %d Tm\n(%s) Tj\n" % (x, y, _pdf_escape(line))
        content += b"ET"
        xobj = b""
        if page_imgs[i]:
            xobj = b"/XObject<<%s>>" % b"".join(
                b"%s %d 0 R" % (nm, num) for nm, num in page_imgs[i]
            )
            for k, (nm, _num) in enumerate(page_imgs[i]):
                content += b"\nq 40 0 0 30 %d 40 cm %s Do Q" % (
                    50 + 60 * k,
                    nm,
                )
        objs.append(
            f"<</Type/Page/Parent 2 0 R/Resources<</Font<</F1 3 0 R>>"
            .encode()
            + xobj
            + f">>/Contents {5 + 2 * i} 0 R>>".encode()
        )
        objs.append(
            b"<</Length %d>>\nstream\n%s\nendstream" % (len(content), content)
        )
    for num, spec, smask_num in img_plan:
        if smask_num is not None:
            sm = spec["smask"]
            z = zlib.compress(sm["samples"], 6)
            assert len(objs) + 1 == smask_num
            objs.append(
                b"<</Type/XObject/Subtype/Image/Width %d/Height %d"
                b"/BitsPerComponent 8/ColorSpace/DeviceGray"
                b"/Filter/FlateDecode/Length %d>>\nstream\n%s\nendstream"
                % (sm["width"], sm["height"], len(z), z)
            )
        assert len(objs) + 1 == num
        objs.append(_image_xobject_bytes(spec, smask_num))
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<</Size %d/Root 1 0 R>>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


_PDF_EXPECTED: dict[str, str] = {}
PDF_DECODE_DOCS = 32


def stage_pdf_expected(sf_dir: str) -> str:
    """Expected (doc_id, page_idx, page_text, n_spans) parquet for the
    `pdf_decode` driver twin — built from the SOURCE lines before any PDF
    byte exists (memoized per sf_dir)."""
    import os

    import pandas as pd

    sf_dir = os.path.normpath(sf_dir)
    if sf_dir in _PDF_EXPECTED:
        return _PDF_EXPECTED[sf_dir]
    import duckdb

    path = staging_path("pdfexp", sf_dir, ".parquet")
    rows = duckdb.sql(
        "SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') "
        f"ORDER BY doc_id LIMIT {PDF_DECODE_DOCS}"
    ).fetchall()
    recs = []
    for doc_id, text in rows:
        for page_idx, lines in enumerate(doc_pdf_lines(text)):
            recs.append(
                {
                    "doc_id": int(doc_id),
                    "page_idx": page_idx,
                    "page_text": "\n".join(lines),
                    "n_spans": len(lines),
                }
            )
    pd.DataFrame(recs).to_parquet(path, index=False)
    _PDF_EXPECTED[sf_dir] = path
    return path


# ---------------------------------------------------------------------------
# image XObject extraction (S3 — reference enem_pdf_extractor.py:306-331)
# ---------------------------------------------------------------------------


def _resolve_colorspace(pdf: "PDFFile", cs) -> tuple:
    """ColorSpace -> ('gray'|'rgb'|'cmyk', channels) or
    ('indexed', base_kind, base_channels, hival, palette_bytes).

    Name spaces map directly; ICCBased maps by /N; Indexed resolves its
    lookup (string or stream) to raw palette bytes; Separation/DeviceN
    render as their component count (tint transform ignored — the
    reference's Pixmap does its own color management we don't model)."""
    cs = pdf.get(cs)
    if cs in (b"/DeviceGray", b"/CalGray", b"/G"):
        return ("gray", 1)
    if cs in (b"/DeviceRGB", b"/CalRGB", b"/RGB"):
        return ("rgb", 3)
    if cs in (b"/DeviceCMYK", b"/CMYK"):
        return ("cmyk", 4)
    if isinstance(cs, list) and cs:
        head = pdf.get(cs[0])
        if head == b"/ICCBased" and len(cs) > 1:
            icc = pdf.get(cs[1])
            n = pdf.get(icc.get(b"/N")) if isinstance(icc, dict) else 3
            return {1: ("gray", 1), 4: ("cmyk", 4)}.get(n, ("rgb", 3))
        if head in (b"/Indexed", b"/I") and len(cs) >= 4:
            kind, chans = _resolve_colorspace(pdf, cs[1])[:2]
            hival = int(pdf.get(cs[2]) or 0)
            lut = pdf.get(cs[3])
            if isinstance(lut, dict):  # lookup stream
                palette = pdf.stream_data(lut)
            elif isinstance(lut, bytes):
                palette = lut
            else:
                palette = b""
            return ("indexed", kind, chans, hival, palette)
        if head == b"/Separation":
            return ("gray", 1)
        if head == b"/DeviceN" and len(cs) > 1:
            names = pdf.get(cs[1])
            n = len(names) if isinstance(names, list) else 1
            return {1: ("gray", 1), 4: ("cmyk", 4)}.get(n, ("rgb", 3))
        if head in (b"/CalRGB", b"/Lab"):
            return ("rgb", 3)
        if head == b"/CalGray":
            return ("gray", 1)
    return ("rgb", 3)  # permissive default (one bad image must not crash)


def decode_image_xobject(pdf: "PDFFile", obj: dict) -> dict:
    """One image XObject -> the reference's per-image record:
    {width, height, fmt, image ('png' bytes when decodable), channels,
    had_alpha, was_cmyk}.

    Pipeline per reference :306-331: extract bytes -> (alpha strip) ->
    (CMYK->RGB) -> PNG. DCTDecode is a JPEG passthrough (fmt='jpeg' —
    dims/channels parsed from the SOF header, no stdlib JPEG pixel
    decoder); JPXDecode/CCITTFaxDecode pass through raw with fmt
    'jp2'/'ccitt'. FlateDecode/raw sample streams become REAL PNGs:
    inflate -> predictor removal -> bit expansion -> palette expansion ->
    CMYK->RGB -> png_encode. had_alpha means an /SMask was present and
    was dropped (the reference's Pixmap(pix, 0) branch)."""
    from . import imaging

    w = int(pdf.get(obj.get(b"/Width")) or 0)
    h = int(pdf.get(obj.get(b"/Height")) or 0)
    bpc = int(pdf.get(obj.get(b"/BitsPerComponent")) or 8)
    had_alpha = b"/SMask" in obj and pdf.get(obj.get(b"/SMask")) is not None
    filt = pdf.get(obj.get(b"/Filter"))
    filters = filt if isinstance(filt, list) else [filt] if filt else []
    filters = [pdf.get(f) for f in filters]
    last = filters[-1] if filters else None
    base = {
        "width": w,
        "height": h,
        "had_alpha": had_alpha,
        "was_cmyk": False,
        "channels": 0,
    }
    raw = obj.get(b"__stream__", b"")
    if last in (b"/DCTDecode", b"/JPXDecode", b"/CCITTFaxDecode") and len(
        filters
    ) > 1:
        # e.g. [/ASCIIHexDecode /DCTDecode]: the byte filters wrap the
        # image codec and must be undone before the codec sees the stream
        raw = _apply_stream_filters(raw, filters[:-1])
    if last == b"/DCTDecode":
        # the reference converts DCT streams to PNG too (fitz.Pixmap
        # accepts JPEG bytes, :312); the from-scratch baseline decoder
        # (imaging.jpeg_decode) covers every SOF0 stream — which is the
        # whole shipped corpus — and non-baseline streams stay a tagged
        # passthrough rather than an error
        decoded = imaging.jpeg_decode(raw)
        if decoded is not None:
            w2, h2, ch, samples = decoded
            return {
                **base,
                "fmt": "png",
                "codec": "jpeg",
                "image": imaging.png_encode(w2, h2, samples, ch),
                "channels": ch,
                "width": w2,
                "height": h2,
            }
        hdr = imaging.jpeg_parse(raw) or {}
        return {
            **base,
            "fmt": "jpeg",
            "codec": "jpeg",
            "image": raw,
            "channels": hdr.get("channels", 0),
            "width": hdr.get("width", w),
            "height": hdr.get("height", h),
        }
    if last == b"/JPXDecode":
        return {**base, "fmt": "jp2", "codec": "jp2", "image": raw}
    if last == b"/CCITTFaxDecode":
        dp = pdf.get(obj.get(b"/DecodeParms"))
        if isinstance(dp, list):
            dp = pdf.get(dp[-1]) if dp else None
        dp = dp if isinstance(dp, dict) else {}
        k = int(pdf.get(dp.get(b"/K")) or 0)
        cols = int(pdf.get(dp.get(b"/Columns")) or 1728)
        if k < 0:  # pure Group 4 (T.6) — the from-scratch MMR decoder
            try:
                samples = imaging.ccitt_g4_decode(raw, cols, h)
                return {
                    **base,
                    "fmt": "png",
                    "codec": "ccitt",
                    "image": imaging.png_encode(cols, h, samples, 1),
                    "channels": 1,
                    "width": cols,
                }
            except Exception:
                pass  # malformed stream: keep the tagged passthrough
        return {
            **base, "fmt": "ccitt", "codec": "ccitt", "image": raw,
            "channels": 1,
        }
    samples = pdf.stream_data(obj)
    dp = pdf.get(obj.get(b"/DecodeParms"))
    if isinstance(dp, list):
        dp = pdf.get(dp[-1]) if dp else None
    if isinstance(dp, dict):
        pred = int(pdf.get(dp.get(b"/Predictor")) or 1)
        if pred > 1:
            samples = imaging.unpredict(
                samples,
                pred,
                int(pdf.get(dp.get(b"/Colors")) or 1),
                int(pdf.get(dp.get(b"/BitsPerComponent")) or 8),
                int(pdf.get(dp.get(b"/Columns")) or 1),
            )
    decode = pdf.get(obj.get(b"/Decode"))
    invert = isinstance(decode, list) and len(decode) >= 2 and decode[0] == 1
    if pdf.get(obj.get(b"/ImageMask")):
        samples = imaging.expand_bits_gray(samples, w, h, bpc, invert=invert)
        kind, chans = "gray", 1
    else:
        spec = _resolve_colorspace(pdf, obj.get(b"/ColorSpace"))
        if spec[0] == "indexed":
            _, kind, chans, hival, palette = spec
            if bpc != 8:
                # RAW palette indices — gray-scaling them (x17 for 4-bit)
                # would clamp nearly every pixel to the last palette row
                samples = imaging.expand_bits(
                    samples, w, h, bpc, scale=False
                )
            samples = imaging.expand_indexed(samples, palette, chans, hival)
        else:
            kind, chans = spec
            if bpc != 8:
                # interleaved components: the byte-aligned row carries
                # width x channels values, not width
                samples = imaging.expand_bits(samples, w * chans, h, bpc)
    if kind == "cmyk":
        samples = imaging.cmyk_to_rgb(samples)
        kind, chans = "rgb", 3
        base["was_cmyk"] = True
    return {
        **base,
        "fmt": "png",
        "codec": "flate" if filters else "raw",
        "image": imaging.png_encode(w, h, samples, chans),
        "channels": chans,
    }


def _page_image_refs(pdf: "PDFFile", res, seen_forms: set) -> list:
    """Image XObject Refs reachable from a resource dict, in resource
    insertion order, recursing through Form XObjects (fitz
    ``page.get_images()`` reports these too). Dedup per page by object
    number — a page referencing the same image twice lists it once."""
    out: list = []
    res = pdf.get(res)
    if not isinstance(res, dict):
        return out
    xo = pdf.get(res.get(b"/XObject"))
    if not isinstance(xo, dict):
        return out
    for _name, ref in xo.items():
        obj = pdf.get(ref)
        if not isinstance(obj, dict):
            continue
        sub = obj.get(b"/Subtype")
        if sub == b"/Image":
            out.append(ref)
        elif sub == b"/Form":
            key = ref.num if isinstance(ref, Ref) else id(obj)
            if key in seen_forms:  # cycle guard
                continue
            seen_forms.add(key)
            out.extend(
                _page_image_refs(pdf, obj.get(b"/Resources"), seen_forms)
            )
    return out


def extract_images(data: bytes) -> list[dict]:
    """All page-referenced images of a PDF, decoded.

    One dict per (page, image): page_idx is the 0-based fitz-style page
    index and img_index restarts at 1 per page — matching the reference's
    output naming ``{year}_{day}_page{page_index}_{image_index}.png``
    (enem_pdf_extractor.py:328, enumerate(image_list, start=1) :306).
    A structurally bad image yields fmt='error' with the raw bytes
    instead of failing the document (the reference's ``continue`` on
    Pixmap errors, :317-321)."""
    try:
        pdf = PDFFile(data)
        pages = pdf.pages()
    except Exception:
        return []
    out: list[dict] = []
    for page_idx, (page, inh) in enumerate(pages):
        res = page.get(b"/Resources", inh.get(b"/Resources"))
        seen_nums: set = set()
        refs = []
        for ref in _page_image_refs(pdf, res, set()):
            key = ref.num if isinstance(ref, Ref) else id(ref)
            if key in seen_nums:
                continue
            seen_nums.add(key)
            refs.append(ref)
        for img_index, ref in enumerate(refs, start=1):
            obj = pdf.get(ref)
            try:
                rec = decode_image_xobject(pdf, obj)
            except Exception:
                rec = {
                    "width": int(pdf.get(obj.get(b"/Width")) or 0),
                    "height": int(pdf.get(obj.get(b"/Height")) or 0),
                    "fmt": "error",
                    "codec": "unknown",
                    "image": obj.get(b"__stream__", b""),
                    "channels": 0,
                    "had_alpha": False,
                    "was_cmyk": False,
                }
            rec["page_idx"] = page_idx
            rec["img_index"] = img_index
            out.append(rec)
    return out


# ---------------------------------------------------------------------------
# pdf_images driver twin: deterministic image specs + expected staging
# ---------------------------------------------------------------------------

PDF_IMAGE_DOCS = 24


def synth_doc_images(doc_id: int) -> list[list[dict]]:
    """Deterministic per-document image specs (one list per synth page),
    cycling the decoder's branch coverage: gray, PNG-predictor RGB,
    palette-indexed, CMYK, and RGB-with-SMask (the reference's alpha
    branch). Rotation by doc_id varies which page carries which variant."""
    from .layout import deterministic_pixels

    base = f"img:{doc_id}:".encode()
    w = 8 + (doc_id % 5)
    h = 6 + (doc_id % 3)
    hival = 15
    variants = [
        {
            "kind": "gray",
            "width": w,
            "height": h,
            "samples": deterministic_pixels(base + b"g", w * h),
        },
        {
            "kind": "rgb",
            "width": w,
            "height": h,
            "predictor": True,
            "samples": deterministic_pixels(base + b"p", w * h * 3),
        },
        {
            "kind": "indexed",
            "width": w,
            "height": h,
            "hival": hival,
            "palette": deterministic_pixels(base + b"pal", (hival + 1) * 3),
            "samples": bytes(
                b % (hival + 1)
                for b in deterministic_pixels(base + b"i", w * h)
            ),
        },
        {
            "kind": "cmyk",
            "width": w,
            "height": h,
            "samples": deterministic_pixels(base + b"c", w * h * 4),
        },
        {
            "kind": "rgb",
            "width": w,
            "height": h,
            "samples": deterministic_pixels(base + b"a", w * h * 3),
            "smask": {
                "width": w,
                "height": h,
                "samples": deterministic_pixels(base + b"m", w * h),
            },
        },
        {
            # bilevel: Group 4 encoded at embed time, MMR-decoded on
            # extraction — certifies the from-scratch T.6 codec in the
            # driver twin round trip
            "kind": "ccitt",
            "width": w,
            "height": h,
            "samples": bytes(
                255 if b & 1 else 0
                for b in deterministic_pixels(base + b"f", w * h)
            ),
        },
    ]
    rot = doc_id % len(variants)
    order = variants[rot:] + variants[:rot]
    return [order[:3], order[3:]]


def expected_image_rows(doc_id: int) -> list[dict]:
    """pdf_images rows for one document computed WITHOUT any PDF byte —
    the direct kernel composition over the same source specs. Matching
    the Spark side's hash therefore certifies the embed -> parse ->
    inflate -> unpredict -> palette/CMYK extraction round trip (same
    protocol as stage_pdf_expected for text)."""
    import hashlib

    from . import imaging

    rows = []
    for page_idx, specs in enumerate(synth_doc_images(doc_id)):
        for img_index, spec in enumerate(specs, start=1):
            kind = spec["kind"]
            samples = spec["samples"]
            if kind == "indexed":
                samples = imaging.expand_indexed(
                    samples, spec["palette"], 3, spec["hival"]
                )
                chans = 3
            elif kind == "cmyk":
                samples = imaging.cmyk_to_rgb(samples)
                chans = 3
            else:
                # ccitt's expected PNG comes straight from the SOURCE
                # bitmap — the G4 encode/decode must be lossless
                chans = {"gray": 1, "rgb": 3, "ccitt": 1}[kind]
            png = imaging.png_encode(
                spec["width"], spec["height"], samples, chans
            )
            rows.append(
                {
                    "doc_id": int(doc_id),
                    "page_idx": page_idx,
                    "img_index": img_index,
                    "width": spec["width"],
                    "height": spec["height"],
                    "fmt": "png",
                    "codec": "ccitt" if kind == "ccitt" else "flate",
                    "channels": chans,
                    "had_alpha": spec.get("smask") is not None,
                    "was_cmyk": kind == "cmyk",
                    "png_md5": hashlib.md5(png).hexdigest(),
                }
            )
    return rows


_PDFIMG_EXPECTED: dict[str, str] = {}


def stage_pdfimg_expected(sf_dir: str) -> str:
    """Expected pdf_images parquet for the driver twin (memoized per
    sf_dir) — built purely from the image SPECS, no PDF bytes."""
    import os

    import pandas as pd

    sf_dir = os.path.normpath(sf_dir)
    if sf_dir in _PDFIMG_EXPECTED:
        return _PDFIMG_EXPECTED[sf_dir]
    import duckdb

    path = staging_path("pdfimg", sf_dir, ".parquet")
    rows = duckdb.sql(
        "SELECT doc_id FROM "
        f"read_parquet('{sf_dir}/documents.parquet') "
        f"ORDER BY doc_id LIMIT {PDF_IMAGE_DOCS}"
    ).fetchall()
    recs = []
    for (doc_id,) in rows:
        recs.extend(expected_image_rows(int(doc_id)))
    pd.DataFrame(recs).to_parquet(path, index=False)
    _PDFIMG_EXPECTED[sf_dir] = path
    return path
