"""A small, forgiving DOM built on the stdlib ``html.parser``.

The reference leans on lxml (via readability-lxml); lxml is not available
here, so the engine carries its own tolerant tree builder.  It only needs
to be good enough for boilerplate removal: tag tree, attributes, text,
implicit paragraph/list-item closing, void elements, raw-text elements.
"""

from __future__ import annotations

import re
from functools import lru_cache
from html.parser import HTMLParser

VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
}

RAW_TEXT_TAGS = {"script", "style"}

# Tags that implicitly close an open <p>
_P_CLOSERS = {
    "address", "article", "aside", "blockquote", "div", "dl", "fieldset",
    "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr",
    "main", "nav", "ol", "p", "pre", "section", "table", "ul",
}

BLOCK_TAGS = {
    "address", "article", "aside", "blockquote", "body", "br", "caption",
    "center", "dd", "div", "dl", "dt", "fieldset", "figcaption", "figure",
    "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr",
    "html", "legend", "li", "main", "nav", "ol", "option", "p", "pre",
    "section", "table", "tbody", "tfoot", "thead", "title",
    "tr", "ul",
}

# html_text 0.6.x treats <tr> as a line break but NOT <td>/<th>: cells in
# one row are joined with a space.  Mirror that (the reference renders via
# html_text at deepdoc/parser/html_parser.py:46).
CELL_TAGS = {"td", "th"}


class Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict | None = None, parent=None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list = []  # Node or str
        self.parent = parent

    # -- tree queries ------------------------------------------------
    def iter(self):
        # iterative pre-order: one generator frame instead of a
        # yield-from chain per tree level (hot: every scoring pass)
        stack = [self]
        pop = stack.pop
        push = stack.append
        while stack:
            n = pop()
            yield n
            for c in reversed(n.children):
                if type(c) is not str:  # children hold str or Node only
                    push(c)

    def find_all(self, *tags):
        want = set(tags)
        return [n for n in self.iter() if n.tag in want]

    def find(self, tag):
        for n in self.iter():
            if n.tag == tag:
                return n
        return None

    def text(self) -> str:
        # same node order as ``for n in self.iter(): append str kids``,
        # with the generator frame switches inlined away (hot: the
        # paragraph-scoring squeeze calls this once per candidate)
        parts: list[str] = []
        append = parts.append
        stack = [self]
        pop = stack.pop
        while stack:
            kids = pop().children
            nodes = None
            for c in kids:
                if type(c) is str:
                    append(c)
                elif nodes is None:
                    nodes = [c]
                else:
                    nodes.append(c)
            if nodes is not None:
                nodes.reverse()
                stack.extend(nodes)
        return "".join(parts)

    def class_id(self) -> str:
        # valueless attrs (<div class>) parse as None in both builders
        return (
            (self.attrs.get("class") or "") + " " + (self.attrs.get("id") or "")
        ).strip()

    def detach(self) -> None:
        if self.parent is not None:
            self.parent.children = [
                c for c in self.parent.children if c is not self
            ]
            self.parent = None

    def __repr__(self):  # pragma: no cover
        return f"<{self.tag} {self.class_id()!r} kids={len(self.children)}>"


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("#root")
        self.stack = [self.root]
        self._raw: str | None = None

    def handle_starttag(self, tag, attrs):
        if self._raw:
            return
        stack = self.stack
        # implicit closes inlined (a helper would cost a method call
        # per candidate tag on the hottest handler); the branches are
        # mutually exclusive — "li"/"td"/"th"/"tr" are not members of
        # _P_CLOSERS — and each re-checks the NEW top after a pop
        if tag in _P_CLOSERS:
            if stack[-1].tag == "p":
                stack.pop()
        elif tag == "li":
            if stack[-1].tag == "li":
                stack.pop()
        elif tag in ("td", "th"):
            if stack[-1].tag == "td":
                stack.pop()
            if stack[-1].tag == "th":
                stack.pop()
        elif tag == "tr":
            if stack[-1].tag == "td":
                stack.pop()
            if stack[-1].tag == "th":
                stack.pop()
            if stack[-1].tag == "tr":
                stack.pop()
        top = stack[-1]
        # None when attr-less (the common tag): Node.__init__'s
        # ``attrs or {}`` makes the one empty dict either way —
        # dict(attrs) here made a second, thrown-away allocation
        node = Node(tag, dict(attrs) if attrs else None, top)
        top.children.append(node)
        if tag in VOID_TAGS:
            return
        stack.append(node)
        if tag in RAW_TEXT_TAGS:
            self._raw = tag

    def handle_startendtag(self, tag, attrs):
        if self._raw:
            return
        top = self.stack[-1]
        top.children.append(Node(tag, dict(attrs) if attrs else None, top))

    def handle_endtag(self, tag):
        if self._raw:
            if tag == self._raw:
                self._raw = None
                self._pop_to(tag)
            return
        if tag in VOID_TAGS:
            return
        # well-formed close inlined (the hottest handler after
        # handle_starttag; _pop_to's fast path re-checked the same
        # condition behind a method call)
        stack = self.stack
        if stack[-1].tag == tag:
            if len(stack) > 1:
                stack.pop()
            return
        self._pop_to(tag)

    def handle_data(self, data):
        if self._raw:
            return  # script/style contents are dropped outright
        if data:
            self.stack[-1].children.append(data)

    # -- helpers -----------------------------------------------------
    def _pop_to(self, tag: str) -> None:
        stack = self.stack
        if stack[-1].tag == tag:  # well-formed close: the common case
            if len(stack) > 1:
                stack.pop()
            return
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].tag == tag:
                del stack[i:]
                return
        # stray end tag: ignore


def parse_html_stdlib(text: str) -> Node:
    builder = _TreeBuilder()
    try:
        builder.feed(text)
        builder.close()
    except Exception:
        pass  # keep whatever tree was built from malformed input
    return builder.root


# -- fast scanner ----------------------------------------------------------
#
# Drives the SAME _TreeBuilder handlers as the stdlib path, so the tree
# semantics (implicit closes, raw-text drop, void tags) are shared; only
# the tokenization loop is replaced.  html.parser spends most of its
# time in goahead/parse_starttag bookkeeping we don't need — this scanner
# is ~3x faster on web pages.  parse_html_stdlib stays as the fuzz
# tests' differential oracle.

from html import unescape as _unescape  # noqa: E402

# Attr blob grammar mirrors html.parser: a quote opens a value span
# ONLY directly after '=' (a '>' inside such a span does not end the
# tag); a bare quote anywhere else is an ordinary character; '=' that
# starts an UNTERMINATED quoted value fails the whole tag (stdlib's
# bogus-data path).  All quantifiers are possessive — a truncated tag
# must fail in linear time, not backtrack exponentially (a crawled
# page cut mid-tag would otherwise pin an executor core).
_START_RE = re.compile(
    r"<([a-zA-Z][^\t\n\r\f />\x00]*)"  # html.parser's tagfind_tolerant
    r"((?:[^>='\"]++|=\s*+\"[^\"]*+\"|=\s*+'[^']*+'|=(?!\s*[\"'])|['\"])*+)"
    r">",
    re.DOTALL,
)
_END_RE = re.compile(r"</\s*([a-zA-Z][^\t\n\r\f />\x00]*)[^>]*>")
_ATTR_RE = re.compile(
    r"([^\s/=>]+)(?:\s*=\s*(\"[^\"]*\"|'[^']*'|[^>\s]*))?"
)
# self-closing iff the trailing "/" stands alone after the attrs (an
# unquoted value may legally *contain* the slash: <a href=x/> is not
# self-closing, matching html.parser)
_SELFCLOSE_RE = re.compile(r"(?:^|[\s\"'])/$")

# The parsed end-tag name must equal the open raw element exactly:
# html.parser's name charset is [-.a-zA-Z0-9:_], so '</scripty>' AND
# '</script-a>' both stay inside <script> (\b alone would let the
# latter close it)
_RAW_CLOSE = {
    t: re.compile(r"</\s*" + t + r"(?![-.a-zA-Z0-9:_])[^>]*>", re.IGNORECASE)
    for t in RAW_TEXT_TAGS
}
_MARKED_CLOSE = re.compile(r"]\s*]\s*>")  # <![CDATA[ .. ]]>
_MS_MARKED_CLOSE = re.compile(r"]\s*>")  # <![if ..]> IE conditionals
_MARKED_IF = re.compile(r"<!\[(?:if|else|endif)", re.IGNORECASE)


def _parse_attrs_impl(blob: str) -> tuple[tuple[str, str | None], ...]:
    out = []
    for m in _ATTR_RE.finditer(blob):
        name = m.group(1).lower()
        if name == "/":
            continue
        val = m.group(2)
        if val is not None:
            if val[:1] in ("'", '"'):
                val = val[1:-1]
            if "&" in val:
                val = _unescape(val)
        out.append((name, val))
    return tuple(out)  # immutable: cached values are shared by design


_parse_attrs_cached = lru_cache(maxsize=1 << 15)(_parse_attrs_impl)


def _parse_attrs(blob: str) -> tuple[tuple[str, str | None], ...]:
    # memoized for short blobs: attr blobs repeat heavily (nav/class
    # boilerplate is identical across a site's pages — 99.9% hit rate
    # on the bench corpus), the function is pure, and the returned
    # tuple is immutable so sharing cache hits cannot corrupt state
    # (handle_starttag copies into dict(attrs)).  Long blobs bypass
    # the cache so a crafted page full of unique multi-KB blobs
    # cannot pin 32k of them in memory (cap ~= 32k x 256 B keys).
    if len(blob) <= 256:
        return _parse_attrs_cached(blob)
    return _parse_attrs_impl(blob)


def parse_html_fast(text: str) -> Node:
    b = _TreeBuilder()
    # bound handlers hoisted: the loop below calls them a few hundred
    # thousand times on a big page, and a local beats the per-call
    # attribute lookup.  Data runs skip handle_data entirely: its
    # raw-mode guard is dead here (the raw branch at the loop top
    # consumes script/style text before any data call) and its
    # non-empty guard is enforced at each call site, so appending to
    # the open node directly drops one call layer per text run.
    stack = b.stack  # same list object for the whole parse
    handle_starttag = b.handle_starttag
    handle_endtag = b.handle_endtag
    find = text.find
    i, n = 0, len(text)
    # Smallest position proven to have NO '>' anywhere to EOF.  Every
    # construct the loop recognizes (start tag, end tag, bogus comment)
    # needs a '>' to complete, so once one forward scan fails the fact
    # is permanent — without memoizing it, a flood of unterminated
    # tags ('<a ' * 100k with no '>') costs two full-tail scans PER
    # token (the possessive regex to EOF + bogus' find): O(n^2),
    # measured 48 s at 240 KB.  With it, each failed token costs only
    # the distance to the next '<': linear, same emitted data.
    no_gt_from = n + 1

    def find_gt(pos: int) -> int:
        nonlocal no_gt_from
        if pos >= no_gt_from:
            return -1
        k = find(">", pos)
        if k < 0:
            no_gt_from = pos
        return k

    def bogus(lt: int) -> int:
        # html.parser's EOF recovery for an unterminated construct:
        # emit charref-converted data up to the first '>' (inclusive),
        # else to the next '<', else one char — then keep scanning
        k = find_gt(lt + 1)
        if k >= 0:
            k += 1
        else:
            k = find("<", lt + 1)
            if k < 0:
                k = lt + 1
        data = text[lt:k]  # non-empty: k > lt always holds
        stack[-1].children.append(_unescape(data) if "&" in data else data)
        return k

    while i < n:
        if b._raw is not None:
            m = _RAW_CLOSE[b._raw].search(text, i)
            if m is None:
                break  # unclosed script/style: rest is dropped
            handle_endtag(b._raw)
            i = m.end()
            continue
        lt = find("<", i)
        if lt < 0:
            data = text[i:]
            if data:
                stack[-1].children.append(
                    _unescape(data) if "&" in data else data
                )
            break
        if lt > i:
            data = text[i:lt]
            stack[-1].children.append(_unescape(data) if "&" in data else data)
        c = text[lt + 1 : lt + 2]
        if c == "/":
            # lt >= no_gt_from: no '>' remains, so the match is doomed
            m = _END_RE.match(text, lt) if lt < no_gt_from else None
            if m:
                handle_endtag(m.group(1).lower())
                i = m.end()
            else:  # bogus end tag (</>, </ x): skipped like a comment
                gt = find_gt(lt + 1)
                if gt < 0:  # unterminated at EOF
                    i = bogus(lt)
                    continue
                i = gt + 1
            continue
        if c.isalpha():
            m = _START_RE.match(text, lt) if lt < no_gt_from else None
            if m is None:  # unterminated tag (open =-quote or EOF)
                i = bogus(lt)
                continue
            tag = m.group(1).lower()
            blob = m.group(2)
            # short-circuit the strip (it allocates) on the common
            # attr-less tag whose blob is empty
            attrs = (
                _parse_attrs(blob)
                if blob and blob.strip(" \t\r\n/")
                else []
            )
            # the regex needs blob to END with '/' — endswith gates the
            # O(len) search down to the rare candidate tags
            if blob.endswith("/") and _SELFCLOSE_RE.search(blob):
                b.handle_startendtag(tag, attrs)
            else:
                handle_starttag(tag, attrs)
            i = m.end()
            continue
        if c == "!" or c == "?":
            if text.startswith("<!--", lt):
                end = find("-->", lt + 4)
                if end >= 0:
                    i = end + 3
                    continue
            elif text.startswith("<![", lt):
                # marked section: CDATA/ignore end at ']]>', the IE
                # conditional keywords at ']>' (html.parser semantics)
                closer = (
                    _MS_MARKED_CLOSE
                    if _MARKED_IF.match(text, lt)
                    else _MARKED_CLOSE
                )
                m = closer.search(text, lt + 3)
                if m is not None:
                    i = m.end()
                    continue
            else:
                gt = find_gt(lt + 1)
                if gt >= 0:
                    i = gt + 1
                    continue
            i = bogus(lt)
            continue
        # lone '<' (e.g. "a < b"): literal text, advance one char
        stack[-1].children.append("<")
        i = lt + 1
    return b.root


# No runtime fallback to parse_html_stdlib: the scanner raised on 0 of
# 83,048 fuzz, random, corpus, mutated and adversarial inputs; should
# one ever escape, the extraction router's error net counts the row.
parse_html = parse_html_fast
