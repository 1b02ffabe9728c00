"""EML (RFC-822 email) source — stdlib ``email`` parsing.

Port of rag/app/email.py:28-108: headers + text/plain parts render as
"Header: value" lines through the txt parser, text/html parts go
through the HTML main-content extractor, both merge with the naive
token-budget packer; attachments are opaque (filename, payload) pairs
the caller routes back through the format router (the reference
recurses into its naive chunker the same way).

Everything here is stdlib; runs inside the extraction UDF batch like
every other parser (no per-row Python beyond the batch)."""

from __future__ import annotations

import io
import re
from email import policy
from email.parser import BytesParser

# stdlib feedparser recurses once per nested multipart AND once per
# nested message/rfc822 (each embedded message re-enters _parsegen),
# so a crafted message a few hundred KB long (thousands of nested
# container headers of either kind) blows the recursion limit inside
# BytesParser.parse before any of our code runs.  Real mail nests a
# handful of levels; reject far past that, BEFORE parsing.  The
# extraction router's error net counts the row (spark/udfs.py).
_MAX_MULTIPARTS = 100
_MULTIPART_DECL = re.compile(rb"(?im)^content-type:\s*(?:multipart|message)/")


def _decode_part(part) -> str:
    payload = part.get_payload(decode=True)
    if payload is None:
        return ""
    charset = part.get_content_charset() or "utf-8"
    try:
        return payload.decode(charset)
    except (LookupError, UnicodeDecodeError):
        from ..text.codec import decode_bytes

        return decode_bytes(payload)


def parse_eml(
    data: bytes,
) -> tuple[list[str], list[str], list[tuple[str, bytes]]]:
    """(text_parts, html_parts, attachments).

    text_parts: the "Header: value" lines then every text/plain body;
    html_parts: every text/html body; attachments: (filename, bytes).
    """
    raw = bytes(data)
    if len(_MULTIPART_DECL.findall(raw)) > _MAX_MULTIPARTS:
        raise ValueError("over-nested MIME message")
    msg = BytesParser(policy=policy.default).parse(io.BytesIO(raw))
    text_txt: list[str] = []
    html_txt: list[str] = []
    for header, value in msg.items():
        text_txt.append(f"{header}: {value}")

    # iterative: nesting is bounded above, but don't recurse per level.
    # LIFO with reversed children = the same document (pre-)order as a
    # front-pop queue with prepended children, without the O(parts^2)
    # element shifting pop(0) does on a flat 50k-part message (one
    # container declaration, so it passes the nesting pre-scan).
    stack = [msg]
    while stack:
        m = stack.pop()
        ctype = m.get_content_type()
        if ctype == "text/plain":
            text_txt.append(_decode_part(m))
        elif ctype == "text/html":
            html_txt.append(_decode_part(m))
        elif "multipart" in ctype and m.is_multipart():
            stack.extend(reversed(list(m.iter_parts())))

    attachments: list[tuple[str, bytes]] = []
    for part in msg.iter_attachments():
        cd = part.get("Content-Disposition")
        if not cd:
            continue
        if cd.strip().split(";")[0].lower() != "attachment":
            continue
        payload = part.get_payload(decode=True)
        if payload is not None:
            attachments.append((part.get_filename() or "", payload))
    return text_txt, html_txt, attachments


def email_sections(
    text_txt: list[str], html_txt: list[str], budget: int = 128
) -> list[tuple[str, str]]:
    """``parse_eml``'s text and html parts as sections the way the
    reference builds them (email.py:81-84): txt-parsed header+plain
    lines, then the html extractor's lines."""
    from ..extract.html import extract_html

    from .txt import split_txt

    sections = [tuple(s) for s in split_txt("\n".join(text_txt), budget)]
    if html_txt:
        html_lines = extract_html("\n".join(html_txt)).sections
        sections += [(line, "") for line in html_lines if line]
    return sections


def email_chunks(
    data: bytes, budget: int = 128, delimiters: str = "\n!?。；！？"
) -> list[str]:
    """Main-body chunks: sections -> naive token-budget merge
    (email.py:86-91).  Attachment routing is the caller's job
    (spark/udfs.py folds attachment text into the same doc)."""
    from ..chunk.merge import greedy_merge, nonempty_chunks

    return nonempty_chunks(
        greedy_merge(email_sections(*parse_eml(data)[:2], budget), budget, delimiters)
    )


_EML_HEADS = (
    b"received:", b"return-path:", b"delivered-to:", b"from:", b"to:",
    b"subject:", b"date:", b"message-id:", b"mime-version:",
    b"content-type:", b"x-",
)


def looks_like_eml(head: bytes) -> bool:
    """Cheap RFC-822 sniff over the first lines: at least two known
    header keys among the first few lines."""
    hits = 0
    for line in head.splitlines()[:10]:
        low = line.strip().lower()
        if low.startswith(_EML_HEADS):
            hits += 1
        if hits >= 2:
            return True
    return False
