"""Digital-signature detection, CMS/PKCS#7 + X.509 parsing, and
cryptographic verification — pure Python, no crypto libraries.

Reference surface (oxidize-pdf-core/src/signatures/):
  detection.rs:28  detect_signature_fields — AcroForm /FT /Sig walk
  types.rs:13      ByteRange (from_array/validate/Display) + SignatureField
  cms.rs:537       parse_pkcs7_signature — ContentInfo→SignedData→SignerInfo
  verification.rs:88/164  compute_pdf_hash + verify_signature (RSA/ECDSA)
  verification.rs:352     has_incremental_update
  certificate.rs:83       validate_certificate_at_time

Everything is rebuilt on a ~120-line DER/BER reader (BER indefinite
lengths are normalized to DER on read, mirroring cms.rs ber_to_der) and
native big-int math: RSA verification is one ``pow(sig, e, n)``; ECDSA
P-256/P-384 verification is Jacobian double-and-add over the NIST curves'
public parameters.  The forward (signing) direction at the bottom exists
only to build test fixtures, like kernel/crypto.py does for encryption.

Documented reference quirks mirrored or pinned here:
  * verification.rs:258 verifies RSA with ``VerifyingKey::new_unprefixed``
    — the PKCS#1 v1.5 encoded message is expected to hold the RAW hash
    with no DigestInfo prefix.  Standards-conformant CMS signatures embed
    the DigestInfo SEQUENCE, so the reference rejects them.  We accept
    BOTH encodings and report which one matched (``em_form``).
  * cms.rs:612 takes the FIRST certificate in SignedData as the signer
    (no IssuerAndSerialNumber match) — on a real chain that is usually
    the root CA, so the reference mis-verifies every chained signature.
    We match the SignerInfo sid by serial and keep first-cert only as
    the fallback (deviation, required for real documents — see the BOE
    fixture test).
  * cms.rs:689 extract_signing_time returns the placeholder string
    "(signing time present)" instead of decoding the attribute.  We decode
    the UTCTime/GeneralizedTime properly (documented deviation).
  * verification.rs:164 ignores signedAttrs: it always verifies the
    signature directly against the document hash, which is only correct
    for CMS signatures WITHOUT signed attributes.  When signedAttrs are
    present we implement the correct CMS path (messageDigest attribute
    must equal the document hash; the signature covers the DER SET OF
    signedAttrs) and also report the reference-style direct check.
  * certificate.rs:249 check_key_usage indexes ``extn_value[1]`` — that
    is the BIT STRING *length* octet, not the usage bits, so the check
    misreads every real certificate.  We parse the BIT STRING correctly
    (digitalSignature bit 0 / nonRepudiation bit 1) and keep the
    reference's permissive no-extension default.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field


class SignatureError(Exception):
    """Mirror of signatures/error.rs SignatureError (message-only)."""


# ---------------------------------------------------------------------------
# DER / BER reader + DER writer
# ---------------------------------------------------------------------------

TAG_SEQ = 0x30
TAG_SET = 0x31
TAG_INT = 0x02
TAG_BITSTR = 0x03
TAG_OCTETS = 0x04
TAG_NULL = 0x05
TAG_OID = 0x06
TAG_UTF8 = 0x0C
TAG_PRINTABLE = 0x13
TAG_T61 = 0x14
TAG_IA5 = 0x16
TAG_UTCTIME = 0x17
TAG_GENTIME = 0x18
TAG_BMP = 0x1E


def der_encode(tag: int, content: bytes) -> bytes:
    n = len(content)
    if n < 0x80:
        return bytes((tag, n)) + content
    lb = n.to_bytes((n.bit_length() + 7) // 8, "big")
    return bytes((tag, 0x80 | len(lb))) + lb + content


def _norm(buf: bytes, pos: int) -> tuple[int, bytes, int]:
    """Read one BER/DER node at ``pos``; return (tag, DER-normalized
    content, end).  Constructed nodes are re-encoded child by child so
    BER indefinite lengths anywhere in the tree come out as definite DER
    (cms.rs ber_to_der equivalent, done inline during the parse)."""
    if pos + 2 > len(buf):
        raise SignatureError("DER: truncated header")
    tag = buf[pos]
    if tag & 0x1F == 0x1F:
        raise SignatureError("DER: high-tag-number form unsupported")
    l0 = buf[pos + 1]
    pos += 2
    if l0 == 0x80:
        if not tag & 0x20:
            raise SignatureError("DER: indefinite length on primitive")
        parts = []
        while True:
            if pos + 2 <= len(buf) and buf[pos] == 0 and buf[pos + 1] == 0:
                pos += 2
                break
            if pos >= len(buf):
                raise SignatureError("DER: unterminated indefinite length")
            t, c, pos = _norm(buf, pos)
            parts.append(der_encode(t, c))
        return tag, b"".join(parts), pos
    if l0 < 0x80:
        length = l0
    else:
        nb = l0 & 0x7F
        if nb == 0 or nb > 8 or pos + nb > len(buf):
            raise SignatureError("DER: bad long-form length")
        length = int.from_bytes(buf[pos : pos + nb], "big")
        pos += nb
    end = pos + length
    if end > len(buf):
        raise SignatureError("DER: content exceeds buffer")
    if tag & 0x20:
        parts = []
        p = pos
        while p < end:
            t, c, p = _norm(buf, p)
            parts.append(der_encode(t, c))
        return tag, b"".join(parts), end
    return tag, buf[pos:end], end


@dataclass(frozen=True)
class Der:
    tag: int
    content: bytes

    @property
    def der(self) -> bytes:
        return der_encode(self.tag, self.content)

    def children(self) -> list["Der"]:
        out, p = [], 0
        while p < len(self.content):
            node, p = parse_der(self.content, p)
            out.append(node)
        return out

    def integer(self) -> int:
        if self.tag != TAG_INT:
            raise SignatureError(f"DER: expected INTEGER, got tag {self.tag:#x}")
        return int.from_bytes(self.content, "big", signed=True)

    def oid(self) -> str:
        if self.tag != TAG_OID:
            raise SignatureError(f"DER: expected OID, got tag {self.tag:#x}")
        b = self.content
        if not b:
            raise SignatureError("DER: empty OID")
        out = [str(b[0] // 40), str(b[0] % 40)]
        v = 0
        for byte in b[1:]:
            v = (v << 7) | (byte & 0x7F)
            if not byte & 0x80:
                out.append(str(v))
                v = 0
        return ".".join(out)

    def text(self) -> str | None:
        """Decode a directory-string value; None for non-string types."""
        if self.tag in (TAG_UTF8, TAG_IA5, TAG_UTCTIME, TAG_GENTIME):
            return self.content.decode("utf-8", "replace")
        if self.tag in (TAG_PRINTABLE, TAG_T61):
            return self.content.decode("latin-1")
        if self.tag == TAG_BMP:
            return self.content.decode("utf-16-be", "replace")
        return None


def parse_der(buf: bytes, pos: int = 0) -> tuple[Der, int]:
    tag, content, end = _norm(buf, pos)
    return Der(tag, content), end


def enc_int(v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    b = v.to_bytes(n, "big", signed=False)
    if b[0] & 0x80:
        b = b"\x00" + b
    return der_encode(TAG_INT, b)


def enc_oid(s: str) -> bytes:
    parts = [int(x) for x in s.split(".")]
    body = bytearray([parts[0] * 40 + parts[1]])
    for v in parts[2:]:
        chunk = bytearray([v & 0x7F])
        v >>= 7
        while v:
            chunk.append(0x80 | (v & 0x7F))
            v >>= 7
        body.extend(reversed(chunk))
    return der_encode(TAG_OID, bytes(body))


def enc_seq(*items: bytes) -> bytes:
    return der_encode(TAG_SEQ, b"".join(items))


def enc_set(*items: bytes) -> bytes:
    return der_encode(TAG_SET, b"".join(items))


def enc_ctx(n: int, content: bytes, constructed: bool = True) -> bytes:
    return der_encode(0x80 | (0x20 if constructed else 0) | n, content)


# ---------------------------------------------------------------------------
# ByteRange (types.rs:13-110)
# ---------------------------------------------------------------------------


class ByteRange:
    """(offset, length) pairs covered by a signature (types.rs)."""

    __slots__ = ("ranges",)

    def __init__(self, ranges: list[tuple[int, int]]):
        self.ranges = list(ranges)

    @classmethod
    def from_array(cls, values: list[int]) -> "ByteRange":
        if len(values) % 2 != 0:
            raise SignatureError("ByteRange array must have even number of elements")
        if len(values) < 4:
            raise SignatureError("ByteRange array must have at least 4 elements")
        ranges = []
        for i in range(0, len(values), 2):
            off, length = values[i], values[i + 1]
            if off < 0:
                raise SignatureError(f"ByteRange offset cannot be negative: {off}")
            if length < 0:
                raise SignatureError(f"ByteRange length cannot be negative: {length}")
            ranges.append((off, length))
        return cls(ranges)

    def total_bytes(self) -> int:
        return sum(length for _, length in self.ranges)

    def validate(self) -> None:
        """types.rs:78 — exactly 2 ranges, first at 0, non-overlapping."""
        if len(self.ranges) != 2:
            raise SignatureError(
                f"Expected 2 ranges for signature, got {len(self.ranges)}"
            )
        off1, len1 = self.ranges[0]
        if off1 != 0:
            raise SignatureError(f"First range should start at offset 0, got {off1}")
        off2, _ = self.ranges[1]
        if off2 < off1 + len1:
            raise SignatureError("ByteRange ranges overlap")

    def __len__(self) -> int:
        return len(self.ranges)

    def __str__(self) -> str:
        return "[" + " ".join(f"{o} {l}" for o, l in self.ranges) + "]"


# ---------------------------------------------------------------------------
# Signature-field detection (detection.rs)
# ---------------------------------------------------------------------------


@dataclass
class SignatureField:
    """types.rs:115 SignatureField."""

    filter: str
    byte_range: ByteRange
    contents: bytes
    name: str | None = None
    sub_filter: str | None = None
    reason: str | None = None
    location: str | None = None
    contact_info: str | None = None
    signing_time: str | None = None
    # DocMDP certification level (ISO 32000-1 §12.8.2.2): None for plain
    # approval signatures; 1 = no changes allowed, 2 = form fill-in,
    # 3 = form fill-in + annotations
    certification_level: int | None = None

    def is_pades(self) -> bool:
        return bool(self.sub_filter) and (
            "CAdES" in self.sub_filter or "cades" in self.sub_filter
        )

    def is_pkcs7_detached(self) -> bool:
        return bool(self.sub_filter) and "pkcs7.detached" in self.sub_filter

    def contents_size(self) -> int:
        return len(self.contents)


def detect_signature_fields(data: bytes, password: str | None = None) -> list["SignatureField"]:
    """AcroForm walk for /FT /Sig fields with a /V signature dictionary
    (detection.rs:28 detect_signature_fields + collect_signature_fields).
    No catalog / AcroForm / Fields ⇒ [].  A signature field without /V is
    an UNSIGNED field and is skipped; a signed field missing /Filter,
    /ByteRange or /Contents raises (reference MissingField parity)."""
    from .objects import Ref
    from .reader import PdfReader
    from .textstate import _decode_pdf_string

    reader = PdfReader(data, password=password)
    try:
        catalog = reader.catalog()
    except Exception:
        return []
    acro = reader.resolve(catalog.get("AcroForm"))
    if not isinstance(acro, dict):
        return []
    fields = reader.resolve(acro.get("Fields"))
    if not isinstance(fields, list):
        return []

    out: list[SignatureField] = []
    seen: set = set()

    def dec_str(v) -> str | None:
        v = reader.resolve(v)
        return _decode_pdf_string(v) if isinstance(v, bytes) else None

    def visit(ref, depth: int) -> None:
        if depth > 32:
            return
        marker = ref if isinstance(ref, Ref) else id(ref)
        if marker in seen:
            return
        seen.add(marker)
        node = reader.resolve(ref)
        if not isinstance(node, dict):
            return
        if str(node.get("FT")) == "Sig":
            sig = _extract_signature_field(reader, node, dec_str)
            if sig is not None:
                out.append(sig)
        kids = reader.resolve(node.get("Kids"))
        if isinstance(kids, list):
            for k in kids:
                visit(k, depth + 1)

    for f in fields:
        visit(f, 0)
    return out


def _extract_signature_field(reader, field_dict: dict, dec_str) -> SignatureField | None:
    """detection.rs:117 extract_signature_field."""
    sig_dict = reader.resolve(field_dict.get("V"))
    if not isinstance(sig_dict, dict):
        return None  # no /V = unsigned field

    filt = sig_dict.get("Filter")
    if filt is None:
        raise SignatureError("Missing required field: Filter")
    br_obj = reader.resolve(sig_dict.get("ByteRange"))
    if not isinstance(br_obj, list):
        raise SignatureError("Missing required field: ByteRange")
    values = []
    for item in br_obj:
        item = reader.resolve(item)
        if isinstance(item, bool) or not isinstance(item, (int, float)):
            raise SignatureError("ByteRange must contain only numbers")
        values.append(int(item))
    byte_range = ByteRange.from_array(values)
    contents = reader.resolve(sig_dict.get("Contents"))
    if not isinstance(contents, bytes):
        raise SignatureError("Missing required field: Contents")

    sig = SignatureField(filter=str(filt), byte_range=byte_range, contents=contents)
    sig.name = dec_str(field_dict.get("T"))
    sf = sig_dict.get("SubFilter")
    if sf is not None:
        sig.sub_filter = str(sf)
    sig.reason = dec_str(sig_dict.get("Reason"))
    sig.location = dec_str(sig_dict.get("Location"))
    sig.contact_info = dec_str(sig_dict.get("ContactInfo"))
    sig.signing_time = dec_str(sig_dict.get("M"))
    # certification (DocMDP) signature: /Reference array with a
    # /TransformMethod /DocMDP entry; /TransformParams /P defaults to 2
    refs = reader.resolve(sig_dict.get("Reference"))
    if isinstance(refs, list):
        for r in refs:
            r = reader.resolve(r)
            if not isinstance(r, dict):
                continue
            if str(r.get("TransformMethod")) == "DocMDP":
                params = reader.resolve(r.get("TransformParams"))
                p = (
                    reader.resolve(params.get("P"))
                    if isinstance(params, dict)
                    else None
                )
                sig.certification_level = (
                    int(p)
                    if isinstance(p, int) and not isinstance(p, bool)
                    else 2
                )
                break
    return sig


# ---------------------------------------------------------------------------
# CMS / PKCS#7 parsing (cms.rs)
# ---------------------------------------------------------------------------

OID_SIGNED_DATA = "1.2.840.113549.1.7.2"
OID_DATA = "1.2.840.113549.1.7.1"
OID_CONTENT_TYPE = "1.2.840.113549.1.9.3"
OID_MESSAGE_DIGEST = "1.2.840.113549.1.9.4"
OID_SIGNING_TIME = "1.2.840.113549.1.9.5"
# ESS signing-certificate attributes (CAdES / PAdES, RFC 5035): bind the
# signer certificate into the signed attributes by hash
OID_SIGNING_CERT_V2 = "1.2.840.113549.1.9.16.2.47"  # ESSCertIDv2, SHA-256
# RFC 3161 / CAdES-T timestamp token (unsigned attribute): the TSA's
# countersignature over the signature value — BEYOND the reference,
# whose signatures/ module has no timestamp support at all
OID_TIMESTAMP_TOKEN = "1.2.840.113549.1.9.16.2.14"  # id-aa-timeStampToken
OID_TST_INFO = "1.2.840.113549.1.9.16.1.4"  # id-ct-TSTInfo
OID_RSA = "1.2.840.113549.1.1.1"

DIGEST_OIDS = {
    "2.16.840.1.101.3.4.2.1": "SHA-256",
    "2.16.840.1.101.3.4.2.2": "SHA-384",
    "2.16.840.1.101.3.4.2.3": "SHA-512",
}
DIGEST_OID_OF = {v: k for k, v in DIGEST_OIDS.items()}
# legacy SHA-1 (adbe.pkcs7.sha1 era) — REJECTED by the reference's OID
# table (cms.rs:646-655); available here behind an explicit opt-in since
# real crawls are full of pre-2016 government/enterprise signatures
_LEGACY_DIGEST_OIDS = {"1.3.14.3.2.26": "SHA-1"}
_HASHERS = {
    "SHA-256": hashlib.sha256,
    "SHA-384": hashlib.sha384,
    "SHA-512": hashlib.sha512,
    "SHA-1": hashlib.sha1,
}


def _parse_digest_algorithm(oid: str, allow_legacy_sha1: bool = False) -> str:
    if allow_legacy_sha1 and oid in _LEGACY_DIGEST_OIDS:
        return _LEGACY_DIGEST_OIDS[oid]
    try:
        return DIGEST_OIDS[oid]
    except KeyError:
        raise SignatureError(f"Unsupported algorithm: digest OID: {oid}") from None


def _parse_signature_algorithm(
    oid: str, digest: str, allow_legacy_sha1: bool = False
) -> str:
    """cms.rs:661 parse_signature_algorithm (same OID table; RSA-SHA1
    only under the legacy opt-in)."""
    if oid == OID_RSA:
        return {"SHA-256": "RSA-SHA256", "SHA-384": "RSA-SHA384",
                "SHA-512": "RSA-SHA512", "SHA-1": "RSA-SHA1"}[digest]
    table = {
        "1.2.840.113549.1.1.11": "RSA-SHA256",
        "1.2.840.113549.1.1.12": "RSA-SHA384",
        "1.2.840.113549.1.1.13": "RSA-SHA512",
        "1.2.840.10045.4.3.2": "ECDSA-SHA256",
        "1.2.840.10045.4.3.3": "ECDSA-SHA384",
    }
    if allow_legacy_sha1 and oid == "1.2.840.113549.1.1.5":
        return "RSA-SHA1"
    try:
        return table[oid]
    except KeyError:
        raise SignatureError(f"Unsupported algorithm: signature OID: {oid}") from None


@dataclass
class ParsedSignature:
    """cms.rs:467 ParsedSignature + the signed-attrs detail the reference
    drops (needed for the standards-correct verification path)."""

    digest_algorithm: str
    signature_algorithm: str
    signature_value: bytes
    signer_certificate_der: bytes
    signing_time: str | None = None
    signed_attrs_der: bytes | None = None  # re-tagged as SET OF, hashable
    message_digest: bytes | None = None  # from signed attrs
    encap_content: bytes | None = None  # eContent (adbe.pkcs7.sha1 carries
    # the byte-range SHA-1 here; detached signatures leave it absent)
    all_certs_der: list = field(default_factory=list)  # full SignedData pile
    signing_cert_hash: bytes | None = None  # ESS signingCertificateV2
    signing_cert_hash_alg: str = "SHA-256"
    timestamp_token_der: bytes | None = None  # RFC 3161 unsigned attr

    def signing_certificate_bound(self) -> bool | None:
        """CAdES/PAdES binding check (RFC 5035): does the ESS
        signingCertificateV2 attribute's certHash match the signer
        certificate?  None when the attribute is absent (plain CMS)."""
        if self.signing_cert_hash is None:
            return None
        hasher = _HASHERS.get(self.signing_cert_hash_alg)
        if hasher is None:
            return False
        return hashes_match(
            hasher(self.signer_certificate_der).digest(), self.signing_cert_hash
        )

    def signer_common_name(self) -> str:
        """cms.rs:516 — subject CN, hex-count fallback for binary CNs."""
        cert = parse_certificate(self.signer_certificate_der)
        if "CN#raw" in cert.subject:
            return f"<binary CN: {len(cert.subject['CN#raw'])} bytes>"
        cn = cert.subject.get("CN")
        if cn is not None:
            return cn
        raise SignatureError("Certificate has no common name")


def parse_pkcs7_signature(
    contents: bytes, allow_legacy_sha1: bool = False
) -> ParsedSignature:
    """cms.rs:537 parse_pkcs7_signature.  ``contents`` is the raw (often
    zero-padded) /Contents value; the DER parse naturally ignores the
    padding after the first top-level TLV.  ``allow_legacy_sha1`` admits
    SHA-1 / sha1WithRSA OIDs (adbe.pkcs7.sha1-era signatures) — the
    reference rejects them (cms.rs:646), which is the default here."""
    try:
        return _parse_pkcs7(contents, allow_legacy_sha1)
    except SignatureError:
        raise
    except (IndexError, ValueError, OverflowError) as e:
        raise SignatureError(f"Failed to parse SignedData: {e}") from None


def _parse_pkcs7(contents: bytes, allow_legacy_sha1: bool) -> ParsedSignature:
    try:
        root, _ = parse_der(contents)
    except SignatureError as e:
        raise SignatureError(f"Failed to parse ContentInfo: {e}") from None
    if root.tag != TAG_SEQ:
        raise SignatureError("Failed to parse ContentInfo: not a SEQUENCE")
    kids = root.children()
    if len(kids) < 2 or kids[0].tag != TAG_OID:
        raise SignatureError("Failed to parse ContentInfo: missing contentType")
    ctype = kids[0].oid()
    if ctype != OID_SIGNED_DATA:
        raise SignatureError(f"Expected SignedData, got OID: {ctype}")
    inner = kids[1].children()  # [0] EXPLICIT content
    if not inner or inner[0].tag != TAG_SEQ:
        raise SignatureError("Failed to parse SignedData")
    sd = inner[0].children()
    # SignedData ::= SEQ { version, digestAlgorithms SET, encapContentInfo,
    #                      [0] certs?, [1] crls?, signerInfos SET }
    certs_der: list[bytes] = []
    signer_infos: list[Der] = []
    for node in sd[3:]:
        if node.tag == 0xA0:  # [0] IMPLICIT certificates
            certs_der = [c.der for c in node.children() if c.tag == TAG_SEQ]
        elif node.tag == TAG_SET:
            signer_infos = node.children()
    encap_content = None
    if len(sd) > 2 and sd[2].tag == TAG_SEQ:
        encap = sd[2].children()
        if len(encap) > 1 and encap[1].tag == 0xA0:  # [0] EXPLICIT eContent
            inner_ec = encap[1].children()
            if inner_ec and inner_ec[0].tag == TAG_OCTETS:
                encap_content = inner_ec[0].content
    if not signer_infos:
        raise SignatureError("No signer info found in SignedData")
    si = signer_infos[0].children()
    # SignerInfo ::= SEQ { version, sid, digestAlgorithm,
    #                      [0] signedAttrs?, signatureAlgorithm,
    #                      signature, [1] unsignedAttrs? }
    if len(si) < 5:
        raise SignatureError("Malformed SignerInfo")
    digest_alg = _parse_digest_algorithm(
        si[2].children()[0].oid(), allow_legacy_sha1
    )
    idx = 3
    signed_attrs_der = None
    signing_time = None
    message_digest = None
    signing_cert_hash = None
    signing_cert_hash_alg = "SHA-256"
    if si[idx].tag == 0xA0:
        attrs = si[idx].children()
        # re-tag [0] IMPLICIT → SET OF for the signature input (RFC 5652
        # §5.4: the signature covers the EXPLICIT SET OF encoding)
        signed_attrs_der = der_encode(TAG_SET, si[idx].content)
        for attr in attrs:
            ac = attr.children()
            if len(ac) != 2 or ac[0].tag != TAG_OID:
                continue
            oid = ac[0].oid()
            vals = ac[1].children()
            if oid == OID_SIGNING_TIME and vals:
                # deviation: reference returns "(signing time present)"
                signing_time = vals[0].text()
            elif oid == OID_MESSAGE_DIGEST and vals and vals[0].tag == TAG_OCTETS:
                message_digest = vals[0].content
            elif oid == OID_SIGNING_CERT_V2 and vals and vals[0].tag == TAG_SEQ:
                # SigningCertificateV2 ::= SEQ { certs SEQ OF ESSCertIDv2 }
                # ESSCertIDv2 ::= SEQ { hashAlgorithm DEFAULT sha256,
                #                       certHash OCTET STRING, issuerSerial? }
                certs_seq = vals[0].children()
                if certs_seq and certs_seq[0].tag == TAG_SEQ:
                    ids = certs_seq[0].children()
                    if ids and ids[0].tag == TAG_SEQ:
                        parts = ids[0].children()
                        alg = "SHA-256"
                        hi = 0
                        if parts and parts[0].tag == TAG_SEQ:
                            try:
                                alg = DIGEST_OIDS.get(
                                    parts[0].children()[0].oid(), "SHA-256"
                                )
                            except SignatureError:
                                pass
                            hi = 1
                        if len(parts) > hi and parts[hi].tag == TAG_OCTETS:
                            signing_cert_hash = parts[hi].content
                            signing_cert_hash_alg = alg
        idx += 1
    sig_alg = _parse_signature_algorithm(
        si[idx].children()[0].oid(), digest_alg, allow_legacy_sha1
    )
    idx += 1
    if si[idx].tag != TAG_OCTETS:
        raise SignatureError("Malformed SignerInfo: signature not OCTET STRING")
    signature_value = si[idx].content
    idx += 1
    timestamp_token_der = None
    if idx < len(si) and si[idx].tag == 0xA1:  # [1] IMPLICIT unsignedAttrs
        for attr in si[idx].children():
            ac = attr.children()
            if len(ac) != 2 or ac[0].tag != TAG_OID:
                continue
            if ac[0].oid() == OID_TIMESTAMP_TOKEN:
                vals = ac[1].children()
                if vals and vals[0].tag == TAG_SEQ:
                    timestamp_token_der = vals[0].der
    if not certs_der:
        raise SignatureError("No certificates in SignedData")
    # Signer certificate selection: the reference takes certs[0]
    # (cms.rs:612) — on a real chain that is usually the ROOT CA, so its
    # verification fails every chained signature.  We match the
    # SignerInfo sid (IssuerAndSerialNumber) by serial, falling back to
    # the reference's first-cert behavior when nothing matches.
    signer_cert = certs_der[0]
    if si[1].tag == TAG_SEQ:
        sid_kids = si[1].children()
        if len(sid_kids) >= 2 and sid_kids[1].tag == TAG_INT:
            sid_serial = sid_kids[1].integer()
            for c in certs_der:
                try:
                    if parse_certificate(c).serial == sid_serial:
                        signer_cert = c
                        break
                except SignatureError:
                    continue
    return ParsedSignature(
        digest_algorithm=digest_alg,
        signature_algorithm=sig_alg,
        signature_value=signature_value,
        signer_certificate_der=signer_cert,
        signing_time=signing_time,
        signed_attrs_der=signed_attrs_der,
        message_digest=message_digest,
        encap_content=encap_content,
        all_certs_der=certs_der,
        signing_cert_hash=signing_cert_hash,
        signing_cert_hash_alg=signing_cert_hash_alg,
        timestamp_token_der=timestamp_token_der,
    )


# ---------------------------------------------------------------------------
# X.509 certificate parsing (certificate.rs read-side)
# ---------------------------------------------------------------------------

_DN_OIDS = {
    "2.5.4.3": "CN",
    "2.5.4.6": "C",
    "2.5.4.10": "O",
    "2.5.4.11": "OU",
    "2.5.4.7": "L",
    "2.5.4.8": "ST",
    "1.2.840.113549.1.9.1": "emailAddress",
}
OID_KEY_USAGE = "2.5.29.15"
OID_EC_PUBKEY = "1.2.840.10045.2.1"
OID_P256 = "1.2.840.10045.3.1.7"
OID_P384 = "1.3.132.0.34"


@dataclass
class CertificateInfo:
    subject: dict
    issuer: dict
    serial: int
    not_before: str
    not_after: str
    key_type: str  # 'rsa' | 'ec-p256' | 'ec-p384' | 'unknown'
    rsa_n: int | None = None
    rsa_e: int | None = None
    ec_point: tuple[int, int] | None = None
    key_usage_bits: int | None = None  # first content byte of the BIT STRING
    has_key_usage_ext: bool = False

    def subject_str(self) -> str:
        return _format_dn(self.subject)

    def issuer_str(self) -> str:
        return _format_dn(self.issuer)


def _format_dn(dn: dict) -> str:
    """certificate.rs:143 format_dn — 'CN=x, O=y' with the reference's
    short-name table (CN/C/O only; other attrs keep their dotted OID)."""
    parts = []
    for key, val in dn.items():
        if key.endswith("#raw"):
            continue
        parts.append(f"{key}={val}")
    return ", ".join(parts)


def _parse_name(node: Der) -> dict:
    out: dict = {}
    for rdn in node.children():  # SET OF AttributeTypeAndValue
        for atv in rdn.children():
            kids = atv.children()
            if len(kids) != 2 or kids[0].tag != TAG_OID:
                continue
            oid = kids[0].oid()
            short = _DN_OIDS.get(oid)
            key = short if short in ("CN", "C", "O") else (short or oid)
            txt = kids[1].text()
            if txt is None:
                out[f"{key}#raw"] = kids[1].content
                out[key] = "<binary>"
            else:
                out[key] = txt
    return out


def _x509_time(node: Der) -> str:
    """UTCTime YYMMDDHHMMSSZ → ISO-ish 'YYYY-MM-DD HH:MM:SS'; 19xx/20xx
    split at 50 per RFC 5280.  GeneralizedTime carries the century."""
    s = node.content.decode("ascii", "replace").rstrip("Z")
    try:
        if node.tag == TAG_UTCTIME:
            yy = int(s[:2])
            year = 1900 + yy if yy >= 50 else 2000 + yy
            rest = s[2:]
        else:
            year = int(s[:4])
            rest = s[4:]
    except ValueError:
        raise SignatureError(f"Malformed X.509 time: {s!r}") from None
    mo, dd = rest[0:2], rest[2:4]
    hh, mi, ss = rest[4:6], rest[6:8], rest[8:10] or "00"
    return f"{year:04d}-{mo}-{dd} {hh}:{mi}:{ss}"


def parse_certificate(der_bytes: bytes) -> CertificateInfo:
    try:
        return _parse_certificate(der_bytes)
    except SignatureError:
        raise
    except (IndexError, ValueError, OverflowError) as e:
        # structurally corrupt DER (truncated field lists, giant lengths)
        # degrades like any other parse failure — never a bare IndexError
        # escaping into a Spark task
        raise SignatureError(f"Failed to parse certificate: {e}") from None


def _parse_certificate(der_bytes: bytes) -> CertificateInfo:
    try:
        root, _ = parse_der(der_bytes)
    except SignatureError as e:
        raise SignatureError(f"Failed to parse certificate: {e}") from None
    if root.tag != TAG_SEQ:
        raise SignatureError("Failed to parse certificate: not a SEQUENCE")
    tbs = root.children()[0]
    fields = tbs.children()
    idx = 0
    if fields and fields[0].tag == 0xA0:  # [0] EXPLICIT version
        idx = 1
    serial = fields[idx].integer()
    # fields: serial, signature AlgId, issuer, validity, subject, SPKI, ...
    issuer = _parse_name(fields[idx + 2])
    validity = fields[idx + 3].children()
    not_before = _x509_time(validity[0])
    not_after = _x509_time(validity[1])
    subject = _parse_name(fields[idx + 4])
    spki = fields[idx + 5]
    alg_id = spki.children()[0].children()
    alg_oid = alg_id[0].oid()
    key_bits = spki.children()[1]
    if key_bits.tag != TAG_BITSTR or not key_bits.content:
        raise SignatureError("Malformed SubjectPublicKeyInfo")
    pub = key_bits.content[1:]  # skip unused-bits count
    info = CertificateInfo(
        subject=subject, issuer=issuer, serial=serial,
        not_before=not_before, not_after=not_after, key_type="unknown",
    )
    if alg_oid == OID_RSA:
        rsa_seq, _ = parse_der(pub)
        n_node, e_node = rsa_seq.children()[:2]
        info.key_type = "rsa"
        info.rsa_n = n_node.integer()
        info.rsa_e = e_node.integer()
    elif alg_oid == OID_EC_PUBKEY and len(alg_id) > 1:
        curve = alg_id[1].oid()
        if pub[:1] == b"\x04":
            half = (len(pub) - 1) // 2
            info.ec_point = (
                int.from_bytes(pub[1 : 1 + half], "big"),
                int.from_bytes(pub[1 + half :], "big"),
            )
        if curve == OID_P256:
            info.key_type = "ec-p256"
        elif curve == OID_P384:
            info.key_type = "ec-p384"
    # extensions live in [3] of TBSCertificate
    for f in fields[idx + 6 :]:
        if f.tag == 0xA3:
            for ext in f.children()[0].children():
                kids = ext.children()
                if kids and kids[0].tag == TAG_OID and kids[0].oid() == OID_KEY_USAGE:
                    octets = kids[-1]
                    if octets.tag == TAG_OCTETS:
                        info.has_key_usage_ext = True
                        try:
                            bitstr, _ = parse_der(octets.content)
                            if bitstr.tag == TAG_BITSTR and len(bitstr.content) >= 2:
                                info.key_usage_bits = bitstr.content[1]
                        except SignatureError:
                            pass
    return info


# ---------------------------------------------------------------------------
# Hash + signature verification (verification.rs)
# ---------------------------------------------------------------------------


def compute_pdf_hash(pdf_bytes: bytes, byte_range: ByteRange, algorithm: str) -> bytes:
    """verification.rs:88 compute_pdf_hash — digest over the covered
    ranges; raises when a range exceeds the document."""
    doc_size = len(pdf_bytes)
    for off, length in byte_range.ranges:
        if off + length > doc_size:
            raise SignatureError(
                f"ByteRange ({off}, {length}) exceeds document size {doc_size}"
            )
    h = _HASHERS[algorithm]()
    for off, length in byte_range.ranges:
        h.update(pdf_bytes[off : off + length])
    return h.digest()


# DigestInfo DER prefixes for PKCS#1 v1.5 (RFC 8017 §9.2 notes)
_DIGESTINFO_PREFIX = {
    "SHA-256": bytes.fromhex("3031300d060960864801650304020105000420"),
    "SHA-384": bytes.fromhex("3041300d060960864801650304020205000430"),
    "SHA-512": bytes.fromhex("3051300d060960864801650304020305000440"),
    "SHA-1": bytes.fromhex("3021300906052b0e03021a05000414"),
}


def verify_rsa_pkcs1v15(
    n: int, e: int, signature: bytes, digest: bytes, digest_alg: str
) -> str | None:
    """RSA PKCS#1 v1.5 verify via one modular exponentiation.  Returns the
    encoded-message form that matched: 'digestinfo' (standard CMS),
    'raw' (the reference's new_unprefixed quirk, verification.rs:258), or
    None when invalid."""
    k = (n.bit_length() + 7) // 8
    if len(signature) != k:
        return None
    m = pow(int.from_bytes(signature, "big"), e, n)
    em = m.to_bytes(k, "big")
    if em[:2] != b"\x00\x01":
        return None
    try:
        sep = em.index(b"\x00", 2)
    except ValueError:
        return None
    if sep < 10 or any(b != 0xFF for b in em[2:sep]):
        return None
    t = em[sep + 1 :]
    if t == _DIGESTINFO_PREFIX[digest_alg] + digest:
        return "digestinfo"
    if t == digest:
        return "raw"
    return None


# NIST curve parameters (public constants, FIPS 186-4)
_CURVES = {
    "ec-p256": dict(
        p=0xFFFFFFFF00000001000000000000000000000000FFFFFFFFFFFFFFFFFFFFFFFF,
        n=0xFFFFFFFF00000000FFFFFFFFFFFFFFFFBCE6FAADA7179E84F3B9CAC2FC632551,
        b=0x5AC635D8AA3A93E7B3EBBD55769886BC651D06B0CC53B0F63BCE3C3E27D2604B,
        gx=0x6B17D1F2E12C4247F8BCE6E563A440F277037D812DEB33A0F4A13945D898C296,
        gy=0x4FE342E2FE1A7F9B8EE7EB4A7C0F9E162BCE33576B315ECECBB6406837BF51F5,
    ),
    "ec-p384": dict(
        p=int(
            "fffffffffffffffffffffffffffffffffffffffffffffffffffffffffffffff"
            "effffffff0000000000000000ffffffff", 16,
        ),
        n=int(
            "ffffffffffffffffffffffffffffffffffffffffffffffffc7634d81f4372ddf"
            "581a0db248b0a77aecec196accc52973", 16,
        ),
        b=int(
            "b3312fa7e23ee7e4988e056be3f82d19181d9c6efe8141120314088f5013875a"
            "c656398d8a2ed19d2a85c8edd3ec2aef", 16,
        ),
        gx=int(
            "aa87ca22be8b05378eb1c71ef320ad746e1d3b628ba79b9859f741e082542a38"
            "5502f25dbf55296c3a545e3872760ab7", 16,
        ),
        gy=int(
            "3617de4a96262c6f5d9e98bf9292dc29f8f41dbd289a147ce9da3113b5f0b8c0"
            "0a60b1ce1d7e819d7a431d7c90ea0e5f", 16,
        ),
    ),
}


def _ec_add_jac(P, Q, p):
    """Jacobian point addition; points are (X, Y, Z), Z=0 ⇒ infinity."""
    if P[2] == 0:
        return Q
    if Q[2] == 0:
        return P
    X1, Y1, Z1 = P
    X2, Y2, Z2 = Q
    Z1Z1 = Z1 * Z1 % p
    Z2Z2 = Z2 * Z2 % p
    U1 = X1 * Z2Z2 % p
    U2 = X2 * Z1Z1 % p
    S1 = Y1 * Z2 * Z2Z2 % p
    S2 = Y2 * Z1 * Z1Z1 % p
    if U1 == U2:
        if S1 != S2:
            return (0, 1, 0)
        return _ec_dbl_jac(P, p)
    H = (U2 - U1) % p
    R = (S2 - S1) % p
    H2 = H * H % p
    H3 = H2 * H % p
    U1H2 = U1 * H2 % p
    X3 = (R * R - H3 - 2 * U1H2) % p
    Y3 = (R * (U1H2 - X3) - S1 * H3) % p
    Z3 = H * Z1 * Z2 % p
    return (X3, Y3, Z3)


def _ec_dbl_jac(P, p):
    X1, Y1, Z1 = P
    if Z1 == 0 or Y1 == 0:
        return (0, 1, 0)
    # a = -3 for both NIST curves: M = 3(X+Z^2)(X-Z^2)
    Z2 = Z1 * Z1 % p
    S = 4 * X1 * Y1 * Y1 % p
    M = 3 * (X1 + Z2) * (X1 - Z2) % p
    X3 = (M * M - 2 * S) % p
    Y3 = (M * (S - X3) - 8 * pow(Y1, 4, p)) % p
    Z3 = 2 * Y1 * Z1 % p
    return (X3, Y3, Z3)


def _ec_mul(k: int, point: tuple[int, int], p: int) -> tuple[int, int] | None:
    R = (0, 1, 0)
    P = (point[0], point[1], 1)
    while k:
        if k & 1:
            R = _ec_add_jac(R, P, p)
        P = _ec_dbl_jac(P, p)
        k >>= 1
    if R[2] == 0:
        return None
    zinv = pow(R[2], -1, p)
    z2 = zinv * zinv % p
    return (R[0] * z2 % p, R[1] * z2 * zinv % p)


def _ec_mul2(u1: int, G: tuple[int, int], u2: int, Q: tuple[int, int], p: int):
    """u1*G + u2*Q (two scalar mults + one add; Shamir unneeded here)."""
    A = _ec_mul(u1, G, p) if u1 else None
    B = _ec_mul(u2, Q, p) if u2 else None
    if A is None:
        return B
    if B is None:
        return A
    R = _ec_add_jac((A[0], A[1], 1), (B[0], B[1], 1), p)
    if R[2] == 0:
        return None
    zinv = pow(R[2], -1, p)
    z2 = zinv * zinv % p
    return (R[0] * z2 % p, R[1] * z2 * zinv % p)


def _hash_to_int(digest: bytes, n: int) -> int:
    e = int.from_bytes(digest, "big")
    extra = len(digest) * 8 - n.bit_length()
    if extra > 0:
        e >>= extra
    return e


def verify_ecdsa(
    curve: str, Q: tuple[int, int], signature_der: bytes, digest: bytes
) -> bool:
    """ECDSA verification (verification.rs:283 verify_ecdsa_signature);
    ``signature_der`` is the DER SEQUENCE { r INTEGER, s INTEGER }."""
    params = _CURVES[curve]
    p, n = params["p"], params["n"]
    try:
        seq, _ = parse_der(signature_der)
        r_node, s_node = seq.children()[:2]
        r, s = r_node.integer(), s_node.integer()
    except (SignatureError, ValueError):
        return False
    if not (0 < r < n and 0 < s < n):
        return False
    e = _hash_to_int(digest, n)
    w = pow(s, -1, n)
    u1 = e * w % n
    u2 = r * w % n
    R = _ec_mul2(u1, (params["gx"], params["gy"]), u2, Q, p)
    if R is None:
        return False
    return R[0] % n == r


@dataclass
class SignatureVerificationResult:
    """verification.rs:38 SignatureVerificationResult."""

    hash_valid: bool
    signature_valid: bool
    digest_algorithm: str
    signature_algorithm: str
    details: str | None = None
    em_form: str | None = None  # 'digestinfo' | 'raw' (RSA only)

    def is_valid(self) -> bool:
        return self.hash_valid and self.signature_valid


def verify_signature(
    pdf_bytes: bytes,
    signature: ParsedSignature,
    byte_range: ByteRange,
    embedded_digest: str | None = None,
) -> SignatureVerificationResult:
    """verification.rs:164 verify_signature, plus the standards-correct
    signedAttrs path the reference skips (module docstring).

    ``embedded_digest``: for adbe.pkcs7.sha1 signatures the CMS is NOT
    detached — eContent carries the byte-range digest (always SHA-1 for
    that sub-filter); pass 'SHA-1' and the document binding is checked
    as eContent == SHA-1(ranges) while the CMS layers hash eContent."""
    cert = parse_certificate(signature.signer_certificate_der)

    if signature.encap_content is not None:
        # non-detached CMS: the signed content is eContent; the document
        # binds through the embedded digest when the caller names one
        if embedded_digest is not None:
            doc_digest = compute_pdf_hash(pdf_bytes, byte_range, embedded_digest)
            if not hashes_match(signature.encap_content, doc_digest):
                return SignatureVerificationResult(
                    hash_valid=False, signature_valid=False,
                    digest_algorithm=signature.digest_algorithm,
                    signature_algorithm=signature.signature_algorithm,
                    details="embedded eContent digest does not match document",
                )
        content_digest = _HASHERS[signature.digest_algorithm](
            signature.encap_content
        ).digest()
    else:
        content_digest = compute_pdf_hash(
            pdf_bytes, byte_range, signature.digest_algorithm
        )

    if signature.signed_attrs_der is not None:
        # RFC 5652: messageDigest attr must equal the content digest, and
        # the signature covers the DER SET OF signedAttrs.
        if signature.message_digest is None or not hashes_match(
            signature.message_digest, content_digest
        ):
            return SignatureVerificationResult(
                hash_valid=False, signature_valid=False,
                digest_algorithm=signature.digest_algorithm,
                signature_algorithm=signature.signature_algorithm,
                details="messageDigest attribute does not match document hash",
            )
        signed_input = _HASHERS[signature.digest_algorithm](
            signature.signed_attrs_der
        ).digest()
    else:
        signed_input = content_digest

    alg = signature.signature_algorithm
    em_form = None
    if alg.startswith("RSA-"):
        if cert.key_type != "rsa":
            raise SignatureError("Failed to parse RSA public key: not an RSA key")
        em_form = verify_rsa_pkcs1v15(
            cert.rsa_n, cert.rsa_e, signature.signature_value,
            signed_input, signature.digest_algorithm,
        )
        valid = em_form is not None
    elif alg.startswith("ECDSA-"):
        curve = "ec-p256" if alg == "ECDSA-SHA256" else "ec-p384"
        if cert.key_type != curve or cert.ec_point is None:
            raise SignatureError(f"Failed to parse {curve} public key")
        valid = verify_ecdsa(
            curve, cert.ec_point, signature.signature_value, signed_input
        )
    else:  # pragma: no cover - parse layer limits algorithms
        raise SignatureError(f"Unsupported algorithm: {alg}")

    return SignatureVerificationResult(
        hash_valid=True, signature_valid=valid,
        digest_algorithm=signature.digest_algorithm,
        signature_algorithm=alg, em_form=em_form,
    )


# ---------------------------------------------------------------------------
# RFC 3161 / CAdES-T timestamp tokens — BEYOND the reference (its
# signatures/ module carries no timestamp support): the unsigned
# id-aa-timeStampToken attribute holds a TSA countersignature whose
# TSTInfo messageImprint must hash the SignerInfo's signature value
# (RFC 3161 APPENDIX A; ETSI EN 319 122-1 signature-time-stamp).
# ---------------------------------------------------------------------------


@dataclass
class TimestampInfo:
    """Decoded + verified signature timestamp."""

    gen_time: str | None = None  # TSTInfo genTime, formatted
    policy: str | None = None
    serial: int | None = None
    imprint_algorithm: str | None = None
    imprint_ok: bool = False  # hashedMessage == hash(signature value)
    token_sig_ok: bool = False  # TSA CMS signature over TSTInfo verifies
    tsa: str | None = None  # TSA certificate common name
    error: str | None = None

    def is_valid(self) -> bool:
        return self.imprint_ok and self.token_sig_ok


def verify_timestamp_token(
    token_der: bytes, signature_value: bytes,
    allow_legacy_sha1: bool = False,
) -> TimestampInfo:
    """Decode and verify one RFC 3161 TimeStampToken against the
    signature value it attests. Never raises — decode/verify failures
    land in ``error`` (pipeline error-tier convention)."""
    out = TimestampInfo()
    try:
        tok = _parse_pkcs7(token_der, allow_legacy_sha1)
        if tok.encap_content is None:
            raise SignatureError("timestamp token has no TSTInfo content")
        tst, _ = parse_der(tok.encap_content)
        if tst.tag != TAG_SEQ:
            raise SignatureError("TSTInfo is not a SEQUENCE")
        # TSTInfo ::= SEQ { version, policy OID, messageImprint SEQ,
        #                   serialNumber, genTime GeneralizedTime, ... }
        kids = tst.children()
        if len(kids) < 5 or kids[1].tag != TAG_OID:
            raise SignatureError("Malformed TSTInfo")
        out.policy = kids[1].oid()
        imprint = kids[2].children()
        if (len(imprint) < 2 or imprint[0].tag != TAG_SEQ
                or imprint[1].tag != TAG_OCTETS):
            raise SignatureError("Malformed TSTInfo messageImprint")
        out.imprint_algorithm = _parse_digest_algorithm(
            imprint[0].children()[0].oid(), allow_legacy_sha1
        )
        out.imprint_ok = hashes_match(
            imprint[1].content,
            _HASHERS[out.imprint_algorithm](signature_value).digest(),
        )
        if kids[3].tag == TAG_INT:
            out.serial = kids[3].integer()
        if kids[4].tag in (TAG_GENTIME, TAG_UTCTIME):
            out.gen_time = _x509_time(kids[4])
        try:
            out.tsa = tok.signer_common_name()
        except Exception:
            pass
        # the token is itself CMS SignedData over its TSTInfo eContent:
        # verify_signature's non-detached path hashes eContent, checks
        # the messageDigest attribute, and verifies the TSA signature
        res = verify_signature(
            b"", tok, ByteRange([(0, 0), (0, 0)])
        )
        out.token_sig_ok = res.is_valid()
    except Exception as e:
        out.error = f"{type(e).__name__}: {e}"
    return out


def has_incremental_update(pdf_bytes: bytes, byte_range: ByteRange) -> bool:
    """verification.rs:352 — any bytes after the signed region."""
    if not byte_range.ranges:
        return False
    last_off, last_len = byte_range.ranges[-1]
    return len(pdf_bytes) > last_off + last_len


def hashes_match(h1: bytes, h2: bytes) -> bool:
    """verification.rs:369 (constant-time compare)."""
    import hmac

    return len(h1) == len(h2) and hmac.compare_digest(h1, h2)


# ---------------------------------------------------------------------------
# Certificate validation (certificate.rs:83 validate_certificate_at_time)
# ---------------------------------------------------------------------------


@dataclass
class TrustStore:
    """certificate.rs:28 — no Mozilla bundle ships in this environment;
    callers provide their own roots (count only matters to the decision
    logic, which the reference bases on store emptiness + self-issuance)."""

    root_count: int = 0
    is_mozilla_bundle: bool = False

    @classmethod
    def empty(cls) -> "TrustStore":
        return cls(0, False)


@dataclass
class CertificateValidationResult:
    subject: str
    issuer: str
    valid_from: str
    valid_to: str
    is_time_valid: bool
    is_trusted: bool
    is_signature_capable: bool
    warnings: list = field(default_factory=list)

    def is_valid(self) -> bool:
        return self.is_time_valid and self.is_trusted and self.is_signature_capable

    def has_warnings(self) -> bool:
        return bool(self.warnings)


def validate_certificate_at_time(
    cert_der: bytes, trust_store: TrustStore, validation_time: str
) -> CertificateValidationResult:
    """certificate.rs:83 — validity window, trust-chain decision logic,
    key-usage check.  ``validation_time`` is 'YYYY-MM-DD HH:MM:SS' (string
    compare suffices for the fixed format).  The key-usage check parses
    the BIT STRING correctly (digitalSignature/nonRepudiation bits) —
    certificate.rs:249 reads the length octet instead (documented bug we
    do NOT reproduce); the permissive no-extension default is kept."""
    cert = parse_certificate(cert_der)
    subject = cert.subject.get("CN") or cert.subject_str()
    issuer = cert.issuer.get("CN") or cert.issuer_str()
    is_time_valid = cert.not_before <= validation_time <= cert.not_after
    warnings: list[str] = []

    if not trust_store.is_mozilla_bundle or trust_store.root_count == 0:
        warnings.append("Using empty or custom trust store")
        is_trusted = False
    elif cert.subject_str() == cert.issuer_str():
        warnings.append("Self-signed certificate")
        is_trusted = True
    else:
        warnings.append("CA-issued certificate (chain validation pending)")
        is_trusted = True

    if cert.has_key_usage_ext:
        bits = cert.key_usage_bits or 0
        if bits & 0x80 or bits & 0x40:
            is_signature_capable = True
        else:
            warnings.append("No digital signature key usage")
            is_signature_capable = False
    else:
        warnings.append("No key usage extension")
        is_signature_capable = True

    return CertificateValidationResult(
        subject=subject, issuer=issuer,
        valid_from=cert.not_before, valid_to=cert.not_after,
        is_time_valid=is_time_valid, is_trusted=is_trusted,
        is_signature_capable=is_signature_capable, warnings=warnings,
    )


# ---------------------------------------------------------------------------
# Signing side — FIXTURE forward direction only (like crypto.py's encrypt
# helpers).  Deterministic 1024-bit RSA test key + P-256/P-384 scalars.
# ---------------------------------------------------------------------------

TEST_RSA_N = int(
    "a3a9bd4846d5638b8b3cab7cc6a325c0acaa3d15ce817e007ba85b25a0658662"
    "7383f09f5fd27716163ce23492d74e981bd568afe105de7b0c28428ef9ee45d7"
    "8bbf39060b81a3bd134ddcfcdd2cb6a41a7baa49d947236d719223f8855867b1"
    "e33e405ae29a61928b7bedd71e6270233f612ffb0111d4e72475633fcd4494ab", 16,
)
TEST_RSA_E = 65537
TEST_RSA_D = int(
    "4c0fc4f2644923fc64778bd36f95bf23ee9b27cc8caecdda779de4ce75def937"
    "a42bfb9676382034599d6e1bb4eaef91edcd9edbae9ec5a9361b37e3aef037f0"
    "970390bb5c14ee235f24e29d68e775e92799904b86a9b9d24a03c4088765a388"
    "bc0e332a556884ff61124aea8d7be895f1a8ea717552ccc1e1636a00c7dc2c31", 16,
)
# deterministic EC private scalars for the ECDSA test path
TEST_EC_D = {
    "ec-p256": 0x1D0F2E3C4B5A69788796A5B4C3D2E1F00FEDCBA987654321123456789ABCDEF0,
    "ec-p384": int(
        "2A4B6C8DA0B2C4D6E8FA0C1E3F5A7B9D0E2F4A6B8C9DAEBFC1D3E5F70A1B2C3D"
        "4E5F60718293A4B5C6D7E8F9", 16,
    ) % _CURVES["ec-p384"]["n"],
}

_EC_PUB_MEMO: dict[str, tuple[int, int]] = {}


def ec_public_key(curve: str) -> tuple[int, int]:
    pub = _EC_PUB_MEMO.get(curve)
    if pub is None:
        params = _CURVES[curve]
        pub = _ec_mul(TEST_EC_D[curve], (params["gx"], params["gy"]), params["p"])
        _EC_PUB_MEMO[curve] = pub
    return pub


def rsa_sign_pkcs1v15(
    digest: bytes, digest_alg: str, prefixed: bool = True,
    n: int = TEST_RSA_N, d: int = TEST_RSA_D,
) -> bytes:
    """PKCS#1 v1.5 signature; ``prefixed=False`` produces the DigestInfo-
    less form the reference's new_unprefixed verifier expects."""
    t = (_DIGESTINFO_PREFIX[digest_alg] + digest) if prefixed else digest
    k = (n.bit_length() + 7) // 8
    ps_len = k - 3 - len(t)
    if ps_len < 8:
        raise SignatureError("message too long for key")
    em = b"\x00\x01" + b"\xff" * ps_len + b"\x00" + t
    return pow(int.from_bytes(em, "big"), d, n).to_bytes(k, "big")


def ecdsa_sign(digest: bytes, curve: str, d: int | None = None) -> bytes:
    """Deterministic-k ECDSA for fixtures (k from a hash of digest+d —
    NOT RFC 6979, fine for tests)."""
    params = _CURVES[curve]
    n, p = params["n"], params["p"]
    if d is None:
        d = TEST_EC_D[curve]
    e = _hash_to_int(digest, n)
    seed = hashlib.sha512(digest + d.to_bytes(48, "big")).digest()
    k = int.from_bytes(seed, "big") % (n - 1) + 1
    while True:
        R = _ec_mul(k, (params["gx"], params["gy"]), p)
        r = R[0] % n
        s = pow(k, -1, n) * (e + r * d) % n
        if r and s:
            break
        k = k % (n - 1) + 1
    return enc_seq(enc_int(r), enc_int(s))


def _enc_name(cn: str) -> bytes:
    return enc_seq(enc_set(enc_seq(enc_oid("2.5.4.3"),
                                   der_encode(TAG_UTF8, cn.encode("utf-8")))))


def _alg_id(oid: str, null_param: bool = True) -> bytes:
    return enc_seq(enc_oid(oid) + (der_encode(TAG_NULL, b"") if null_param else b""))


_SIG_ALG_OIDS = {
    "SHA-256": "1.2.840.113549.1.1.11",
    "SHA-384": "1.2.840.113549.1.1.12",
    "SHA-512": "1.2.840.113549.1.1.13",
}
_ECDSA_ALG_OIDS = {"ec-p256": "1.2.840.10045.4.3.2", "ec-p384": "1.2.840.10045.4.3.3"}

_CERT_MEMO: dict[tuple, bytes] = {}


def build_self_signed_cert(
    cn: str, key_type: str = "rsa", digest_alg: str = "SHA-256",
    key_usage: bytes | None = b"\x07\x80",
) -> bytes:
    """Self-signed X.509 v3 certificate for the embedded test key.
    ``key_usage``: BIT STRING content (unused-bits byte + bits) or None
    to omit the extension.  Memoized — fixture builders call this per
    document with a handful of distinct CNs."""
    memo_key = (cn, key_type, digest_alg, key_usage)
    cert = _CERT_MEMO.get(memo_key)
    if cert is not None:
        return cert
    if key_type == "rsa":
        spki = enc_seq(
            _alg_id(OID_RSA),
            der_encode(TAG_BITSTR, b"\x00" + enc_seq(enc_int(TEST_RSA_N),
                                                     enc_int(TEST_RSA_E))),
        )
        sig_alg = _alg_id(_SIG_ALG_OIDS[digest_alg])
    else:
        x, y = ec_public_key(key_type)
        size = 32 if key_type == "ec-p256" else 48
        point = b"\x04" + x.to_bytes(size, "big") + y.to_bytes(size, "big")
        curve_oid = OID_P256 if key_type == "ec-p256" else OID_P384
        spki = enc_seq(
            enc_seq(enc_oid(OID_EC_PUBKEY) + enc_oid(curve_oid)),
            der_encode(TAG_BITSTR, b"\x00" + point),
        )
        sig_alg = enc_seq(enc_oid(_ECDSA_ALG_OIDS[key_type]))
    name = _enc_name(cn)
    validity = enc_seq(
        der_encode(TAG_UTCTIME, b"240101000000Z"),
        der_encode(TAG_UTCTIME, b"390101000000Z"),
    )
    exts = b""
    if key_usage is not None:
        exts = enc_ctx(3, enc_seq(enc_seq(
            enc_oid(OID_KEY_USAGE),
            der_encode(TAG_OCTETS, der_encode(TAG_BITSTR, key_usage)),
        )))
    tbs = enc_seq(
        enc_ctx(0, enc_int(2)),  # v3
        enc_int(int.from_bytes(hashlib.sha256(cn.encode()).digest()[:8], "big") | 1),
        sig_alg, name, validity, name, spki, exts,
    )
    tbs_digest = _HASHERS[digest_alg](tbs).digest()
    if key_type == "rsa":
        sig = rsa_sign_pkcs1v15(tbs_digest, digest_alg)
    else:
        sig = ecdsa_sign(tbs_digest, key_type)
    cert = enc_seq(tbs, sig_alg, der_encode(TAG_BITSTR, b"\x00" + sig))
    _CERT_MEMO[memo_key] = cert
    return cert


def build_timestamp_token(
    signature_value: bytes, cn: str = "Test TSA",
    digest_alg: str = "SHA-256",
    gen_time: bytes = b"20250106120500Z",
    policy: str = "1.3.6.1.4.1.99999.2.1",
    serial: int = 7,
    bad_imprint: bool = False,
) -> bytes:
    """RFC 3161 TimeStampToken fixture: CMS SignedData whose eContent is
    a TSTInfo with messageImprint = hash(``signature_value``) (or a
    flipped hash with ``bad_imprint``), signed by the embedded test key
    through the RFC 5652 signed-attrs path."""
    imprint_hash = bytearray(_HASHERS[digest_alg](signature_value).digest())
    if bad_imprint:
        imprint_hash[0] ^= 0xFF
    tst_info = enc_seq(
        enc_int(1),
        enc_oid(policy),
        enc_seq(_alg_id(DIGEST_OID_OF[digest_alg]),
                der_encode(TAG_OCTETS, bytes(imprint_hash))),
        enc_int(serial),
        der_encode(TAG_GENTIME, gen_time),
    )
    cert = build_self_signed_cert(cn, digest_alg=digest_alg)
    cert_info = parse_certificate(cert)
    digest_alg_id = _alg_id(DIGEST_OID_OF[digest_alg])
    attr_list = b"".join([
        enc_seq(enc_oid(OID_CONTENT_TYPE), enc_set(enc_oid(OID_TST_INFO))),
        enc_seq(enc_oid(OID_MESSAGE_DIGEST),
                enc_set(der_encode(
                    TAG_OCTETS, _HASHERS[digest_alg](tst_info).digest()))),
    ])
    signed_input = _HASHERS[digest_alg](der_encode(TAG_SET, attr_list)).digest()
    sig_value = rsa_sign_pkcs1v15(signed_input, digest_alg)
    signer_info = enc_seq(
        enc_int(1),
        enc_seq(_enc_name(cn), enc_int(cert_info.serial)),
        digest_alg_id, enc_ctx(0, attr_list), _alg_id(OID_RSA),
        der_encode(TAG_OCTETS, sig_value),
    )
    encap = enc_seq(enc_oid(OID_TST_INFO),
                    enc_ctx(0, der_encode(TAG_OCTETS, tst_info)))
    signed_data = enc_seq(
        enc_int(3), enc_set(digest_alg_id), encap,
        enc_ctx(0, cert), enc_set(signer_info),
    )
    return enc_seq(enc_oid(OID_SIGNED_DATA), enc_ctx(0, signed_data))


def build_cms_signature(
    doc_hash: bytes, cn: str = "Test Signer", digest_alg: str = "SHA-256",
    key_type: str = "rsa", signed_attrs: bool = False,
    signing_time: bytes = b"250106120000Z", unprefixed: bool = False,
    cades: bool = False, timestamp: bool = False,
    timestamp_bad_imprint: bool = False,
) -> bytes:
    """Detached CMS SignedData over ``doc_hash`` (the already-computed
    byte-range digest).  ``signed_attrs=True`` exercises the RFC 5652
    attribute path (contentType + signingTime + messageDigest, signature
    over the SET OF); ``unprefixed=True`` emits the reference-quirk raw-
    hash RSA encoding (verification.rs:258); ``cades=True`` additionally
    binds the signer cert via an ESS signingCertificateV2 attribute
    (implies signed attrs — the PAdES/ETSI.CAdES shape); ``timestamp``
    appends an RFC 3161 token over the signature value as the
    id-aa-timeStampToken unsigned attribute (CAdES-T)."""
    cert = build_self_signed_cert(cn, key_type=key_type, digest_alg=digest_alg)
    cert_info = parse_certificate(cert)
    issuer_and_serial = enc_seq(_enc_name(cn), enc_int(cert_info.serial))
    digest_alg_id = _alg_id(DIGEST_OID_OF[digest_alg])
    if key_type == "rsa":
        sig_alg_id = _alg_id(OID_RSA)
    else:
        sig_alg_id = enc_seq(enc_oid(_ECDSA_ALG_OIDS[key_type]))

    attrs_implicit = b""
    if signed_attrs or cades:
        attr_parts = [
            enc_seq(enc_oid(OID_CONTENT_TYPE), enc_set(enc_oid(OID_DATA))),
            enc_seq(enc_oid(OID_SIGNING_TIME),
                    enc_set(der_encode(TAG_UTCTIME, signing_time))),
            enc_seq(enc_oid(OID_MESSAGE_DIGEST),
                    enc_set(der_encode(TAG_OCTETS, doc_hash))),
        ]
        if cades:
            ess_cert_id = enc_seq(
                der_encode(TAG_OCTETS, hashlib.sha256(cert).digest())
            )  # hashAlgorithm omitted = DEFAULT sha256
            attr_parts.append(enc_seq(
                enc_oid(OID_SIGNING_CERT_V2),
                enc_set(enc_seq(enc_seq(ess_cert_id))),
            ))
        attr_list = b"".join(attr_parts)
        signed_input = _HASHERS[digest_alg](der_encode(TAG_SET, attr_list)).digest()
        attrs_implicit = enc_ctx(0, attr_list)
    else:
        signed_input = doc_hash

    if key_type == "rsa":
        sig_value = rsa_sign_pkcs1v15(signed_input, digest_alg,
                                      prefixed=not unprefixed)
    else:
        sig_value = ecdsa_sign(signed_input, key_type)

    unsigned_attrs = b""
    if timestamp or timestamp_bad_imprint:
        token = build_timestamp_token(
            sig_value, digest_alg=digest_alg,
            bad_imprint=timestamp_bad_imprint,
        )
        unsigned_attrs = enc_ctx(1, enc_seq(
            enc_oid(OID_TIMESTAMP_TOKEN), enc_set(token)))
    signer_info = enc_seq(
        enc_int(1), issuer_and_serial, digest_alg_id, attrs_implicit,
        sig_alg_id, der_encode(TAG_OCTETS, sig_value), unsigned_attrs,
    )
    encap = enc_seq(enc_oid(OID_DATA))
    signed_data = enc_seq(
        enc_int(1), enc_set(digest_alg_id), encap,
        enc_ctx(0, cert), enc_set(signer_info),
    )
    return enc_seq(enc_oid(OID_SIGNED_DATA), enc_ctx(0, signed_data))


# ---------------------------------------------------------------------------
# certificate-chain verification — BEYOND the reference: its
# validate_trust_chain (certificate.rs:213) only compares subject/issuer
# strings and reports "CA-issued certificate (chain validation pending)".
# With the RSA/ECDSA verifiers above, actually checking each link costs
# one modular exponentiation per certificate.
# ---------------------------------------------------------------------------

_CERT_SIG_ALGS = {
    "1.2.840.113549.1.1.5": ("rsa", "SHA-1"),
    "1.2.840.113549.1.1.11": ("rsa", "SHA-256"),
    "1.2.840.113549.1.1.12": ("rsa", "SHA-384"),
    "1.2.840.113549.1.1.13": ("rsa", "SHA-512"),
    "1.2.840.10045.4.3.2": ("ecdsa", "SHA-256"),
    "1.2.840.10045.4.3.3": ("ecdsa", "SHA-384"),
}


def verify_certificate_signature(cert_der: bytes, issuer_der: bytes) -> bool:
    """True iff ``cert_der``'s TBSCertificate signature verifies under
    the issuer certificate's public key (RSA PKCS#1 v1.5 or ECDSA)."""
    try:
        root, _ = parse_der(cert_der)
        kids = root.children()
        tbs, sig_alg, sig_bits = kids[0], kids[1], kids[2]
        alg_oid = sig_alg.children()[0].oid()
        if sig_bits.tag != TAG_BITSTR or not sig_bits.content:
            return False
        sig = sig_bits.content[1:]  # skip unused-bits octet
        kind_alg = _CERT_SIG_ALGS.get(alg_oid)
        if kind_alg is None:
            return False
        kind, digest_alg = kind_alg
        digest = _HASHERS[digest_alg](tbs.der).digest()
        issuer = parse_certificate(issuer_der)
        if kind == "rsa":
            if issuer.key_type != "rsa":
                return False
            return (
                verify_rsa_pkcs1v15(issuer.rsa_n, issuer.rsa_e, sig,
                                    digest, digest_alg)
                == "digestinfo"
            )
        if issuer.key_type not in _CURVES or issuer.ec_point is None:
            return False
        return verify_ecdsa(issuer.key_type, issuer.ec_point, sig, digest)
    except (SignatureError, IndexError, ValueError):
        return False


def verify_certificate_chain(certs_der: list[bytes],
                             leaf_der: bytes | None = None) -> list[dict]:
    """Order the pile of SignedData certificates into an issuance chain
    starting from ``leaf_der`` (default: first cert) and cryptographically
    verify each link.  Returns one dict per chain entry:
    {subject, issuer, self_signed, sig_ok, issuer_found}.  A self-signed
    terminal is verified against its own key (trust in the root itself
    still requires an external store — this proves the chain, not the
    anchor)."""
    if not certs_der:
        return []
    infos = []
    for der in certs_der:
        try:
            infos.append(parse_certificate(der))
        except SignatureError:
            infos.append(None)
    by_subject = {
        info.subject_str(): der
        for der, info in zip(certs_der, infos)
        if info is not None
    }
    current = leaf_der if leaf_der is not None else certs_der[0]
    out: list[dict] = []
    seen: set[bytes] = set()
    while current is not None and current not in seen:
        seen.add(current)
        try:
            info = parse_certificate(current)
        except SignatureError:
            out.append({"subject": None, "issuer": None, "self_signed": False,
                        "sig_ok": False, "issuer_found": False})
            break
        self_signed = info.subject_str() == info.issuer_str()
        issuer_der = current if self_signed else by_subject.get(info.issuer_str())
        entry = {
            "subject": info.subject.get("CN") or info.subject_str(),
            "issuer": info.issuer.get("CN") or info.issuer_str(),
            "self_signed": self_signed,
            "issuer_found": issuer_der is not None,
            "sig_ok": (
                verify_certificate_signature(current, issuer_der)
                if issuer_der is not None
                else False
            ),
        }
        out.append(entry)
        if self_signed:
            break
        current = issuer_der
    return out


# ---------------------------------------------------------------------------
# CMS EnvelopedData (RFC 5652 §6) — the /Adobe.PubSec recipient envelope
# (ISO 32000-1 §7.6.5). BEYOND the reference: it ships
# encryption/public_key.rs (SubFilter adbe.pkcs7.s3/s4/s5 structures) but
# its own reader never wires it — parser/encryption_handler.rs handles
# /Standard only — so recipient-encrypted documents error there.
# ---------------------------------------------------------------------------

OID_ENVELOPED_DATA = "1.2.840.113549.1.7.3"
OID_PKCS7_DATA = "1.2.840.113549.1.7.1"
_OID_AES128_CBC = "2.16.840.1.101.3.4.1.2"
_OID_AES256_CBC = "2.16.840.1.101.3.4.1.42"


def _pkcs1_v15_decrypt(ciphertext: bytes, n: int, d: int) -> bytes:
    """RSAES-PKCS1-v1_5 decryption: 00 02 || PS(>=8 nonzero) || 00 || M."""
    k = (n.bit_length() + 7) // 8
    c = int.from_bytes(ciphertext, "big")
    if c >= n:
        raise SignatureError("encrypted key out of range")
    em = pow(c, d, n).to_bytes(k, "big")
    if em[:2] != b"\x00\x02":
        raise SignatureError("PKCS#1 block type mismatch")
    sep = em.find(b"\x00", 2)
    if sep < 10:  # at least 8 padding bytes
        raise SignatureError("PKCS#1 padding too short")
    return em[sep + 1:]


def open_enveloped_data(blob: bytes, rsa_n: int, rsa_d: int) -> bytes:
    """Decrypt one recipient envelope with the given RSA private key and
    return the plaintext content (the §7.6.5 20-byte seed + 4-byte
    permissions). Raises SignatureError when this key opens no
    RecipientInfo or on structural problems — structural errors from a
    malformed foreign RecipientInfo are normalized so a multi-recipient
    walk can continue to the next envelope."""
    try:
        return _open_enveloped_data(blob, rsa_n, rsa_d)
    except SignatureError:
        raise
    except (IndexError, ValueError, OverflowError, KeyError, TypeError) as e:
        raise SignatureError(f"malformed EnvelopedData: {e}") from None


def _open_enveloped_data(blob: bytes, rsa_n: int, rsa_d: int) -> bytes:
    from .crypto import aes_cbc_decrypt

    root, _ = parse_der(blob)
    kids = root.children()
    if len(kids) == 2 and kids[0].tag == TAG_OID:
        # ContentInfo wrapper
        if kids[0].oid() != OID_ENVELOPED_DATA:
            raise SignatureError("not an EnvelopedData envelope")
        env = kids[1].children()[0]
    else:
        env = root
    parts = env.children()
    if len(parts) < 3:
        raise SignatureError("EnvelopedData too short")
    # parts: version, [originatorInfo], recipientInfos SET, encryptedContentInfo
    idx = 1
    while idx < len(parts) and parts[idx].tag != TAG_SET:
        idx += 1
    if idx + 1 >= len(parts):
        raise SignatureError("EnvelopedData missing recipientInfos")
    recipient_infos = parts[idx].children()
    eci = parts[idx + 1].children()
    if len(eci) < 3 or eci[0].tag != TAG_OID:
        raise SignatureError("malformed encryptedContentInfo")
    alg = eci[1].children()
    alg_oid = alg[0].oid()
    encrypted_content = eci[2].content

    cek: bytes | None = None
    for ri in recipient_infos:
        if ri.tag != TAG_SEQ:
            continue  # only KeyTransRecipientInfo (ktri) is supported
        fields = ri.children()
        if len(fields) < 4 or fields[0].integer() != 0:
            continue
        key_alg = fields[2].children()[0].oid()
        if key_alg != OID_RSA:
            continue
        try:
            cek = _pkcs1_v15_decrypt(fields[3].content, rsa_n, rsa_d)
            break
        except SignatureError:
            continue
    if cek is None:
        raise SignatureError("no RecipientInfo opens with this key")

    if alg_oid in (_OID_AES128_CBC, _OID_AES256_CBC):
        want = 16 if alg_oid == _OID_AES128_CBC else 32
        if len(cek) != want:
            raise SignatureError("content-encryption key length mismatch")
        iv = alg[1].content if len(alg) > 1 else b"\x00" * 16
        return aes_cbc_decrypt(cek, iv + encrypted_content)
    raise SignatureError(
        f"unsupported content-encryption algorithm {alg_oid}")


def build_recipient_envelope(
    seed: bytes, perms: int,
    rsa_n: int = TEST_RSA_N, rsa_e: int = TEST_RSA_E,
    cek: bytes | None = None, junk_recipient: bool = False,
) -> bytes:
    """Fixture-side inverse of open_enveloped_data: one KeyTrans
    RecipientInfo for the embedded test certificate, AES-128-CBC
    content = seed || 4-byte big-endian permissions (deterministic IV
    and padding). ``junk_recipient`` prepends a RecipientInfo encrypted
    to a key nobody holds (multi-recipient shape)."""
    from .crypto import aes_cbc_encrypt_nopad

    if len(seed) != 20:
        raise SignatureError("seed must be 20 bytes")
    content = seed + (perms & 0xFFFFFFFF).to_bytes(4, "big")
    if cek is None:
        cek = hashlib.sha256(b"cek:" + content).digest()[:16]
    iv = hashlib.sha256(b"iv:" + content).digest()[:16]
    pad = 16 - (len(content) % 16)
    ciphertext = aes_cbc_encrypt_nopad(cek, iv, content + bytes([pad]) * pad)

    def ktri(key_bytes: bytes) -> bytes:
        k = (rsa_n.bit_length() + 7) // 8
        ps_len = k - 3 - len(key_bytes)
        ps = bytes((i % 255) + 1 for i in range(ps_len))  # nonzero, fixed
        em = b"\x00\x02" + ps + b"\x00" + key_bytes
        enc_key = pow(int.from_bytes(em, "big"), rsa_e, rsa_n).to_bytes(
            k, "big")
        rid = enc_seq(_enc_name("oxpdf pubsec test"), enc_int(7))
        return enc_seq(
            enc_int(0), rid, _alg_id(OID_RSA),
            der_encode(TAG_OCTETS, enc_key),
        )

    infos = b""
    if junk_recipient:
        # a RecipientInfo nobody can open: the encryptedKey is noise, so
        # PKCS#1 unpadding fails and the walk moves to the next info
        k = (rsa_n.bit_length() + 7) // 8
        noise = (hashlib.sha256(b"other-recipient").digest() * 4)[:k]
        rid = enc_seq(_enc_name("someone else"), enc_int(9))
        infos += enc_seq(enc_int(0), rid, _alg_id(OID_RSA),
                         der_encode(TAG_OCTETS, noise))
    infos += ktri(cek)
    eci = enc_seq(
        enc_oid(OID_PKCS7_DATA),
        enc_seq(enc_oid(_OID_AES128_CBC), der_encode(TAG_OCTETS, iv)),
        enc_ctx(0, ciphertext, constructed=False),
    )
    env = enc_seq(enc_int(0), enc_set(infos), eci)
    return enc_seq(enc_oid(OID_ENVELOPED_DATA), enc_ctx(0, env))
