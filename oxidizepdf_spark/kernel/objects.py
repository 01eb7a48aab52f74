"""PDF object model, file-structure lexer, and recursive-descent parser.

Reimplements (Python-side, per-document, in-UDF):

- token vocabulary + lexer:  oxidize-pdf-core/src/parser/lexer.rs:10-739
  (literal strings w/ escapes + ISO §7.3.4.2 octal overflow lexer.rs:281-368,
   hex strings lexer.rs:371-454, names w/ #xx lexer.rs:238-278,
   numbers lexer.rs:479-569, keywords/comments lexer.rs:455-478,570-640)
- object parser incl. ``n g R`` two-token lookahead with pushback:
  objects.rs:348-700 (ref detection 376-399)

Representation: PDF values map to plain Python values so the object graph
stays cheap inside the UDF (SURVEY.md §1.1):

    Null→None  Boolean→bool  Integer→int  Real→float  String→bytes
    Name→Name(str)  Array→list  Dictionary→dict  Stream→Stream  Reference→Ref
"""

from __future__ import annotations

import re
from typing import NamedTuple

from .filters import decode_stream_data

MAX_PARSE_DEPTH = 128  # cf. stack_safe.rs recursion guards


class PdfParseError(Exception):
    pass


class Name(str):
    """A PDF name (``/Type``). Subclass of str so dict keys stay natural."""

    __slots__ = ()

    def __repr__(self) -> str:  # pragma: no cover
        return f"/{str.__str__(self)}"


class Ref(NamedTuple):
    num: int
    gen: int


class Stream:
    """A PDF stream: dictionary + raw (still encoded) bytes."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw

    def decode(self, resolve=None) -> bytes:
        """Apply the /Filter chain (objects.rs:231 → filters.rs:173).

        ``resolve`` maps a Ref to its value (for indirect Filter/DecodeParms).
        """

        def rv(v):
            if isinstance(v, Ref) and resolve is not None:
                return resolve(v)
            return v

        filt = rv(self.dict.get("Filter"))
        if isinstance(filt, list):
            filt = [rv(f) for f in filt]
        parms = rv(self.dict.get("DecodeParms", self.dict.get("DP")))
        if isinstance(parms, list):
            parms = [rv(p) for p in parms]
        filt_names = filt if not isinstance(filt, Name) else str(filt)
        if isinstance(filt_names, list):
            filt_names = [str(f) if isinstance(f, Name) else f for f in filt_names]
        return decode_stream_data(self.raw, filt_names, parms)

    def __repr__(self) -> str:  # pragma: no cover
        return f"Stream({self.dict!r}, {len(self.raw)} bytes)"


WHITESPACE = b"\x00\t\n\x0c\r "
DELIMITERS = b"()<>[]{}/%"

_TOKEN_HEAD = re.compile(
    rb"[%s]*" % re.escape(WHITESPACE)
)
_NUMBER_RE = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")
_KEYWORD_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]+")

# Fast-path master token regex (same technique as content.py): whitespace/
# comment prefix fused into a single C-level match, one alternative per
# common token shape. Anything it can't express byte-exactly (lone +/-,
# nested/escaped strings, malformed hex, '>' errors, brace keywords, junk
# delimiters) falls through to the byte-wise reference path below, so the
# observable token stream is identical.
_OBJ_MASTER = re.compile(
    rb"(?>(?:[\x00\t\n\x0c\r ]+|%[^\n]*\n?)*)"
    rb"(?:(?P<num>[+-]?(?>\d+\.\d*|\.\d+|\d+))"
    rb"|(?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<do><<)"
    rb"|(?P<dc>>>)"
    rb"|(?P<ao>\[)"
    rb"|(?P<ac>\])"
    rb"|(?P<sstr>\([^()\\]*\))"
    rb"|(?P<lstr>\()"
    rb"|(?P<hstr><[0-9A-Fa-f\x00\t\n\x0c\r ]*>)"
    rb"|(?P<kw>[A-Za-z'\"*][^\x00\t\n\x0c\r ()<>\[\]{}/%]*))"
)
_OGI = _OBJ_MASTER.groupindex
_OK_NUM, _OK_NAME, _OK_DO, _OK_DC = (
    _OGI["num"], _OGI["name"], _OGI["do"], _OGI["dc"],
)
_OK_AO, _OK_AC, _OK_SSTR, _OK_LSTR, _OK_HSTR, _OK_KW = (
    _OGI["ao"], _OGI["ac"], _OGI["sstr"], _OGI["lstr"], _OGI["hstr"],
    _OGI["kw"],
)

# /Type /Pages /Font /Length … repeat across every document — memoize the
# raw-bytes → Name decode (capped; cleared wholesale if it ever grows)
_NAME_MEMO: dict[bytes, "Name"] = {}
_KW_MEMO: dict[bytes, str] = {}

# `gen R` tail of an indirect reference, matched in ONE regex instead of
# two next_token/push_token round-trips per integer (objects.rs:376-399
# does the same lookahead token-wise)
_REF_TAIL = re.compile(
    rb"(?>(?:[\x00\t\n\x0c\r ]+|%[^\n]*\n?)*)(\d+)"
    rb"(?>(?:[\x00\t\n\x0c\r ]+|%[^\n]*\n?)+)R"
    rb"(?![^\x00\t\n\x0c\r ()<>\[\]{}/%])"
)


class Lexer:
    """Byte-level tokenizer with pushback (lexer.rs push_token:739)."""

    __slots__ = ("data", "pos", "_pushback")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self._pushback: list[tuple] = []

    # Tokens are tuples (kind, value); kinds:
    #   'int' 'real' 'str' 'hexstr' 'name' 'arr[' 'arr]' 'dict<<' 'dict>>'
    #   'kw' (obj/endobj/stream/endstream/true/false/null/xref/startxref/R/...)
    #   'eof'

    def push_token(self, tok: tuple) -> None:
        self._pushback.append(tok)

    def next_token(self) -> tuple:
        if self._pushback:
            return self._pushback.pop()
        m = _OBJ_MASTER.match(self.data, self.pos)
        if m is not None:
            kind = m.lastindex
            if kind == _OK_NUM:
                self.pos = m.end()
                t = m.group(_OK_NUM)
                if b"." in t:
                    return ("real", float(t))
                return ("int", int(t))
            if kind == _OK_NAME:
                self.pos = m.end()
                raw = m.group(_OK_NAME)
                nm = _NAME_MEMO.get(raw)
                if nm is None:
                    if len(_NAME_MEMO) > 8192:
                        _NAME_MEMO.clear()
                    nm = self._decode_name_bytes(raw[1:])
                    _NAME_MEMO[raw] = nm
                return ("name", nm)
            if kind == _OK_DO:
                self.pos = m.end()
                return ("dict<<", None)
            if kind == _OK_DC:
                self.pos = m.end()
                return ("dict>>", None)
            if kind == _OK_AO:
                self.pos = m.end()
                return ("arr[", None)
            if kind == _OK_AC:
                self.pos = m.end()
                return ("arr]", None)
            if kind == _OK_KW:
                self.pos = m.end()
                raw = m.group(_OK_KW)
                kw = _KW_MEMO.get(raw)
                if kw is None:
                    if len(_KW_MEMO) > 4096:
                        _KW_MEMO.clear()
                    kw = raw.decode("latin-1")
                    _KW_MEMO[raw] = kw
                return ("kw", kw)
            if kind == _OK_SSTR:
                self.pos = m.end()
                return ("str", m.group(_OK_SSTR)[1:-1])
            if kind == _OK_HSTR:
                self.pos = m.end()
                digits = bytearray(
                    c
                    for c in m.group(_OK_HSTR)[1:-1]
                    if c not in WHITESPACE
                )
                if len(digits) % 2:
                    digits.append(0x30)
                return ("hexstr", bytes.fromhex(digits.decode("ascii")))
            if kind == _OK_LSTR:
                self.pos = m.end() - 1  # at '('
                return self._read_literal_string()
        return self._next_token_slow()

    @staticmethod
    def _decode_name_bytes(raw: bytes) -> "Name":
        if b"#" in raw:
            out = bytearray()
            i = 0
            while i < len(raw):
                if raw[i] == 0x23 and i + 2 < len(raw):
                    try:
                        out.append(int(raw[i + 1 : i + 3], 16))
                        i += 3
                        continue
                    except ValueError:
                        pass
                out.append(raw[i])
                i += 1
            raw = bytes(out)
        return Name(raw.decode("latin-1"))

    def _next_token_slow(self) -> tuple:
        """Reference byte-wise path (lexer.rs semantics) — reached only for
        token shapes the master regex does not cover."""
        data, n = self.data, len(self.data)
        pos = self.pos
        # skip whitespace + comments
        while True:
            while pos < n and data[pos] in WHITESPACE:
                pos += 1
            if pos < n and data[pos] == 0x25:  # '%'
                e = data.find(b"\n", pos)
                pos = n if e < 0 else e + 1
                continue
            break
        if pos >= n:
            self.pos = pos
            return ("eof", None)
        c = data[pos]
        if c == 0x2F:  # '/'
            self.pos = pos
            return self._read_name()
        if c in b"+-.0123456789":
            m = _NUMBER_RE.match(data, pos)
            if m:
                self.pos = m.end()
                t = m.group()
                if b"." in t:
                    return ("real", float(t))
                return ("int", int(t))
            # lone +/-/. — treat as keyword-ish garbage byte
            self.pos = pos + 1
            return self.next_token()
        if c == 0x28:  # '('
            self.pos = pos
            return self._read_literal_string()
        if c == 0x3C:  # '<'
            if pos + 1 < n and data[pos + 1] == 0x3C:
                self.pos = pos + 2
                return ("dict<<", None)
            self.pos = pos
            return self._read_hex_string()
        if c == 0x3E:  # '>'
            if pos + 1 < n and data[pos + 1] == 0x3E:
                self.pos = pos + 2
                return ("dict>>", None)
            raise PdfParseError(f"unexpected '>' at {pos}")
        if c == 0x5B:  # '['
            self.pos = pos + 1
            return ("arr[", None)
        if c == 0x5D:  # ']'
            self.pos = pos + 1
            return ("arr]", None)
        if c in b"{}":
            self.pos = pos + 1
            return ("kw", chr(c))
        m = _KEYWORD_RE.match(data, pos)
        if m:
            self.pos = m.end()
            return ("kw", m.group().decode("latin-1"))
        # unrecognized delimiter byte — skip it
        self.pos = pos + 1
        return self.next_token()

    def _read_name(self) -> tuple:
        """Name with #xx hex codes (lexer.rs:238-278)."""
        data = self.data
        pos = self.pos + 1  # skip '/'
        start = pos
        n = len(data)
        while pos < n and data[pos] not in WHITESPACE and data[pos] not in DELIMITERS:
            pos += 1
        raw = data[start:pos]
        self.pos = pos
        if b"#" in raw:
            out = bytearray()
            i = 0
            while i < len(raw):
                if raw[i] == 0x23 and i + 2 < len(raw):
                    try:
                        out.append(int(raw[i + 1 : i + 3], 16))
                        i += 3
                        continue
                    except ValueError:
                        pass
                out.append(raw[i])
                i += 1
            raw = bytes(out)
        return ("name", Name(raw.decode("latin-1")))

    def _read_literal_string(self) -> tuple:
        """Literal string with escapes + octal overflow rule
        (lexer.rs:281-368; ISO §7.3.4.2: high-order overflow ignored)."""
        data = self.data
        pos = self.pos + 1  # skip '('
        n = len(data)
        out = bytearray()
        depth = 1
        while pos < n and depth > 0:
            c = data[pos]
            pos += 1
            if c == 0x5C:  # backslash
                if pos >= n:
                    break
                e = data[pos]
                pos += 1
                if e == 0x6E:
                    out.append(0x0A)
                elif e == 0x72:
                    out.append(0x0D)
                elif e == 0x74:
                    out.append(0x09)
                elif e == 0x62:
                    out.append(0x08)
                elif e == 0x66:
                    out.append(0x0C)
                elif e in b"()\\":
                    out.append(e)
                elif 0x30 <= e <= 0x37:
                    val = e - 0x30
                    cnt = 1
                    while cnt < 3 and pos < n and 0x30 <= data[pos] <= 0x37:
                        val = val * 8 + (data[pos] - 0x30)
                        pos += 1
                        cnt += 1
                    out.append(val & 0xFF)
                else:
                    out.append(e)  # unknown escape → literal
            elif c == 0x28:
                depth += 1
                out.append(c)
            elif c == 0x29:
                depth -= 1
                if depth > 0:
                    out.append(c)
            else:
                out.append(c)
        self.pos = pos
        return ("str", bytes(out))

    def _read_hex_string(self) -> tuple:
        """Hex string (lexer.rs:371-454); odd digit count pads a 0 nibble."""
        data = self.data
        pos = self.pos + 1  # skip '<'
        n = len(data)
        digits = bytearray()
        while pos < n:
            c = data[pos]
            if c == 0x3E:  # '>'
                pos += 1
                break
            if c in b"0123456789abcdefABCDEF":
                digits.append(c)
            elif c in WHITESPACE:
                pass
            else:
                raise PdfParseError(f"invalid hex char {c:#x} at {pos}")
            pos += 1
        self.pos = pos
        if len(digits) % 2:
            digits.append(0x30)
        return ("hexstr", bytes.fromhex(digits.decode("ascii")))


def parse_object(lexer: Lexer, depth: int = 0):
    """Recursive-descent value parser with reference lookahead
    (objects.rs:348-700). Returns a Python value per the module mapping.
    ``stream``/``endobj`` keywords are left for the caller (reader)."""
    if depth > MAX_PARSE_DEPTH:
        raise PdfParseError("maximum parse depth exceeded")
    kind, val = lexer.next_token()
    if kind == "int":
        # `n g R` lookahead (objects.rs:376-399). Well-formed reference
        # tails resolve in ONE regex match; anything else goes through the
        # token-wise dance so error behavior on malformed input is
        # unchanged.
        if val >= 0 and not lexer._pushback:
            m = _REF_TAIL.match(lexer.data, lexer.pos)
            if m is not None:
                lexer.pos = m.end()
                return Ref(val, int(m.group(1)))
        t2 = lexer.next_token()
        if t2[0] == "int" and val >= 0 and t2[1] >= 0:
            t3 = lexer.next_token()
            if t3 == ("kw", "R"):
                return Ref(val, t2[1])
            lexer.push_token(t3)
        lexer.push_token(t2)
        return val
    if kind in ("real",):
        return val
    if kind in ("str", "hexstr"):
        return val
    if kind == "name":
        return val
    if kind == "arr[":
        arr = []
        while True:
            t = lexer.next_token()
            if t[0] == "arr]":
                return arr
            if t[0] == "eof":
                raise PdfParseError("unterminated array")
            lexer.push_token(t)
            arr.append(parse_object(lexer, depth + 1))
    if kind == "dict<<":
        d = {}
        while True:
            t = lexer.next_token()
            if t[0] == "dict>>":
                return d
            if t[0] == "eof":
                raise PdfParseError("unterminated dictionary")
            if t[0] != "name":
                # tolerate junk keys by skipping (reference is lenient here)
                continue
            d[str(t[1])] = parse_object(lexer, depth + 1)
    if kind == "kw":
        if val == "true":
            return True
        if val == "false":
            return False
        if val == "null":
            return None
        raise PdfParseError(f"unexpected keyword {val!r} at {lexer.pos}")
    if kind == "eof":
        raise PdfParseError("unexpected EOF")
    raise PdfParseError(f"unexpected token {kind} at {lexer.pos}")
