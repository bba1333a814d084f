"""E2 — lenient HTML parse into a small DOM (SURVEY.md §2A E2).

The reference uses ``lxml.html.fromstring`` (libxml2 recovery mode)
[PUB:__init__.extract]; lxml is absent in this sandbox [ENV], so this module
vendors a small recovery layer on stdlib ``html.parser``:

* void elements never push onto the open stack;
* a block-level start tag implicitly closes an open ``<p>``;
* ``<li>`` closes an open ``<li>``; ``<tr>``/``<td>``/``<th>`` likewise;
* stray end tags with no matching open element are ignored;
* everything still open at EOF is closed;
* ``<script>``/``<style>``/comments/doctype are dropped at parse time so no
  text op ever sees them (the reference strips them before text extraction).

The produced tree intentionally mirrors the subset of the lxml element API
the extraction stages need: ``tag``, ``attrib``, child nodes and text parts
interleaved in document order (``content``), parent links, and recursive
iteration in document order. The tree is immutable once built (the
doc-order caches rely on it); ``Node.release`` breaks its reference cycles
when the caller is done with it.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Iterator, Optional

VOID_ELEMENTS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)


# start tag → tags it implicitly closes (nearest-first search up the stack)
_IMPLIED_CLOSE = {
    "li": ("li",),
    "p": ("p",),
    "tr": ("tr", "td", "th"),
    "td": ("td", "th"),
    "th": ("td", "th"),
    "option": ("option",),
    "dd": ("dd", "dt"),
    "dt": ("dd", "dt"),
}

_DROP_SUBTREES = frozenset({"script", "style", "noscript", "iframe", "svg"})

from sys import intern as _intern  # noqa: E402

_EMPTY_ATTRS: dict = {}  # shared by every attributeless Node (never mutated)


class Node:
    """One element. ``content`` interleaves str (text runs) and Node children
    in document order, like lxml's text/tail but simpler to walk."""

    __slots__ = ("tag", "attrib", "content", "parent", "_flat",
                 "_class_id", "_iter_cache")

    def __init__(self, tag: str, attrib: Optional[dict] = None,
                 parent: Optional["Node"] = None):
        self.tag = tag
        # attrless nodes share one read-only dict (allocation density
        # matters: GC/memory traffic caps multi-core scaling)
        self.attrib = attrib if attrib is not None else _EMPTY_ATTRS
        self.content: list = []  # str | Node
        self.parent = parent
        self._flat: Optional[list] = None   # self + descendants, doc order
        self._class_id: Optional[str] = None
        self._iter_cache: Optional[dict] = None  # tags → filtered list

    # -- tree walking ------------------------------------------------------
    def _flatten(self) -> list["Node"]:
        """Self + descendants in document order (iterative; cached — the
        extraction stages traverse the same tree several times)."""
        if self._flat is not None:
            return self._flat
        out: list[Node] = []
        stack = [self]
        while stack:
            n = stack.pop()
            out.append(n)
            cs = n.content
            for i in range(len(cs) - 1, -1, -1):
                c = cs[i]
                if c.__class__ is Node:
                    stack.append(c)
        self._flat = out
        return out

    def iter(self, *tags: str) -> Iterator["Node"]:
        """Self + descendants in document order, optionally tag-filtered.
        Filtered lists are cached per tag tuple — the extraction stages
        re-scan the same tags on the same (immutable-once-built) tree."""
        if not tags:
            return iter(self._flatten())
        cache = self._iter_cache
        if cache is None:
            cache = self._iter_cache = {}
        lst = cache.get(tags)
        if lst is None:
            lst = [n for n in self._flatten() if n.tag in tags]
            cache[tags] = lst
        return iter(lst)

    def find(self, *tags: str) -> Optional["Node"]:
        for n in self.iter(*tags):
            if n is not self or self.tag in tags:
                return n
        return None

    def ancestors(self) -> Iterator["Node"]:
        n = self.parent
        while n is not None:
            yield n
            n = n.parent

    # -- attributes --------------------------------------------------------
    def get(self, key: str, default=None):
        return self.attrib.get(key, default)

    @property
    def classes(self) -> list[str]:
        return (self.attrib.get("class") or "").split()

    @property
    def class_id(self) -> str:
        """class + id mashed together for the weight regexes (the reference
        scores both attributes with one regex table [PUB:headline]);
        cached — scored repeatedly across stages."""
        if self._class_id is None:
            self._class_id = ((self.attrib.get("class") or "") + " "
                              + (self.attrib.get("id") or "")).strip()
        return self._class_id

    # -- text --------------------------------------------------------------
    def text_content(self) -> str:
        """All descendant text, document order, no normalization."""
        out: list[str] = []
        self._collect_text(out)
        return "".join(out)

    def _collect_text(self, out: list[str]) -> None:
        for c in self.content:
            if isinstance(c, str):
                out.append(c)
            else:
                c._collect_text(out)

    def release(self) -> None:
        """Break the reference cycles of this node and its descendants
        (parent links, doc-order caches that hold their own node) so
        reference counting frees the tree as soon as the last outside
        reference goes, with no cyclic GC pass. Call it once the tree is
        no longer needed."""
        for n in self._flatten():
            n.parent = n._flat = n._iter_cache = None

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<Node {self.tag} {self.attrib.get('class','')!r}>"


class _SinkMixin:
    """Recovery logic shared by the stdlib driver and the fast scanner:
    implied closes, stray-end-tag tolerance, script/style subtree drops."""

    root: Node
    stack: list
    _drop_depth: int

    def _init_sink(self) -> None:
        self.root = Node("#document")
        self.stack = [self.root]
        self._drop_depth = 0  # >0 while inside script/style/etc.
        self._ld_capture: Optional[Node] = None  # open ld+json script

    def handle_starttag(self, tag: str, attrs) -> None:
        tag = _intern(tag.lower())
        if attrs:
            attrib = {}
            for k, v in attrs:
                k = _intern(k.lower())
                if k not in attrib:  # first occurrence wins, like libxml2
                    attrib[k] = v if v is not None else ""
        else:
            attrib = None
        self._start_node(tag, attrib)

    def _start_node(self, tag: str, attrib) -> None:
        """Shared start logic; ``attrib`` is a prebuilt dict or None.
        Dicts may be SHARED between nodes with identical attribute strings
        (the scanner memoizes them) — Node.attrib is read-only by
        convention throughout the extraction stages."""
        if self._drop_depth:
            if tag in _DROP_SUBTREES and tag not in VOID_ELEMENTS:
                self._drop_depth += 1
            return
        if tag in _DROP_SUBTREES:
            if tag == "script" and attrib \
                    and "ld+json" in (attrib.get("type") or "").lower():
                # JSON-LD carries article metadata — keep as a leaf node
                # whose text content is the raw JSON (E7b/E12 cues)
                self._ld_capture = Node(tag, attrib, self.stack[-1])
                self.stack[-1].content.append(self._ld_capture)
                return
            self._drop_depth = 1
            return
        implied = _IMPLIED_CLOSE.get(tag)
        if implied:
            # close the nearest open implied tag, but never cross a
            # structural boundary (div/section/table cell keeps its <p>s
            # scoped)
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t in implied:
                    del self.stack[i:]
                    break
                if t in ("div", "section", "article", "td", "th", "body",
                         "html"):
                    break
        node = Node(tag, attrib, self.stack[-1])
        self.stack[-1].content.append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if self._drop_depth:
            return
        if tag in _DROP_SUBTREES:
            return
        if tag in VOID_ELEMENTS:
            self.handle_starttag(tag, attrs)
        else:
            # <div/> style self-closing non-void: treat as open+close
            self.handle_starttag(tag, attrs)
            self.handle_endtag(tag)

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if self._ld_capture is not None:
            if tag == "script":
                self._ld_capture = None
            return
        if self._drop_depth:
            if tag in _DROP_SUBTREES:
                self._drop_depth -= 1
            return
        if tag in VOID_ELEMENTS:
            return
        # find nearest matching open tag; ignore stray end tags
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # no match → ignored (recovery behavior)

    def handle_data(self, data: str) -> None:
        if self._ld_capture is not None:
            self._ld_capture.content.append(data)
            return
        if self._drop_depth or not data:
            return
        self.stack[-1].content.append(data)

    def handle_comment(self, data: str) -> None:  # dropped
        return

    def handle_decl(self, decl: str) -> None:  # <!DOCTYPE ...> dropped
        return


class _TreeBuilder(_SinkMixin, HTMLParser):
    """stdlib-driven builder (reference behavior / fallback path)."""

    def __init__(self) -> None:
        HTMLParser.__init__(self, convert_charrefs=True)
        self._init_sink()
    # convert_charrefs=True: entities in text and attr values arrive
    # already unescaped, matching the fast scanner's unescape calls.


# ---------------------------------------------------------------------------
# fast path: a lean regex scanner driving the same sink. The stdlib parser
# spends most of its time in line/col bookkeeping and per-chunk charref
# scanning; this tokenizer allocates far less, which matters twice — raw
# speed AND multi-core scaling (memory bandwidth is the shared resource).

# tag-name charset is stdlib tagfind_tolerant's: ONLY ASCII tab/LF/CR/FF/
# space end a name (NOT Python \s — NBSP/VT are legal stdlib name chars)
_TAG_NAME_RX = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)")
# one C-level match per start tag: name + attr region + '/'. The attr region
# is html.parser's locatestarttagend_tolerant body wrapped in an ATOMIC
# group (3.11+): the locator consumes greedily exactly as the stdlib does,
# then either the '>' / '/>' terminator follows directly (stdlib's "locate
# end, then check next char" happy path) or the match fails in linear time
# and _starttag_tolerant replays the full stdlib recovery. Because the bare-
# value branch eats any '/' it touches, a '/' terminating an unquoted value
# folds into the VALUE (<a href=/staff/jane/> stays open), while '/' after a
# bare attribute name or quoted value self-closes — with no special-casing.
# the NAME is possessive too: were it allowed to backtrack, a name could
# shorten so the attr region's (?<=['"\s/]) lookbehind re-anchors on a
# quote inside the name and the fast path would accept tags stdlib calls
# bogus (e.g. <p'q\x00 href=x> — stdlib emits it as text)
_STARTTAG_RX = re.compile(
    r"""([a-zA-Z][^\t\n\r\f />\x00]*+)"""
    r"""((?>(?:(?:\s|/(?!>))*(?:(?<=['"\s/])[^\s/>][^\s/=>]*"""
    r"""(?:\s*=+\s*(?>'[^']*'|"[^"]*"|(?!['"])[^>\s]*)\s*)?"""
    r"""(?:\s|/(?!>))*)*)?\s*))"""
    r"""(/?)>""")
# tier-1 shape covering ~99.99% of real start tags (ASCII names, quoted or
# bare attributes, plain separators). A strict SUBSET of what the locator
# accepts, with no whitespace-around-'=' or unquoted values, so whenever it
# matches the parse provably agrees with html.parser — but matches ~15%
# faster (no lookbehind, no atomic-group machinery per tag).
# separators are ASCII whitespace ONLY (stdlib name chars include NBSP/VT,
# so a Python-\s separator would mis-split names like 'a\xa0href="x"')
_SIMPLE_TAG_RX = re.compile(
    r"""([a-zA-Z][a-zA-Z0-9-]*)"""
    r"""((?:[\t\n\r\f ]+[a-zA-Z_:][-a-zA-Z0-9_:.]*"""
    r"""(?:="[^"]*"|='[^']*')?)*)[\t\n\r\f ]*"""
    r"""(/?)>""")
# name/value grammar mirrors stdlib attrfind_tolerant: a name may START with
# '=' (but not contain it later); '=+' runs are a single value indicator
_ATTR_RX = re.compile(
    r"""[\s/]*([^\s/>][^\s/=>]*)"""
    r"""(?:\s*=+\s*(?:"([^"]*)"|'([^']*)'|((?!["'])[^\s>]*)))?""")
# --- exact html.parser recovery for tags the fast regex rejects -----------
# The three patterns below are verbatim from CPython's public stdlib
# html.parser (tagfind_tolerant / attrfind_tolerant /
# locatestarttagend_tolerant) so the fallback scan is bit-identical to
# parse_doc_stdlib on malformed start tags (unterminated quotes, quotes or
# '<' inside unquoted values / attribute names).
_TAGFIND_TOL_RX = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ENDTAG_RX = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")  # endtagfind
_ATTRFIND_TOL_RX = re.compile(
    r"((?<=['\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"('[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*))?(?:\s|/(?!>))*")
_LOCATE_STARTTAG_END_RX = re.compile(r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""", re.VERBOSE)
_INCOMPLETE_NEXT = frozenset("abcdefghijklmnopqrstuvwxyz"
                             "ABCDEFGHIJKLMNOPQRSTUVWXYZ=/")
# stdlib markupbase/html.parser closers for the <! family: comments close
# on '--  >' with optional whitespace (NOT just literal '-->'), marked
# sections (<![CDATA[ etc.) on ']]>' / ']>' with optional whitespace
_COMMENT_CLOSE_RX = re.compile(r"--\s*>")
_DECLNAME_RX = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKED_CLOSE_RX = re.compile(r"]\s*]\s*>")
_MSMARKED_CLOSE_RX = re.compile(r"]\s*>")


def _starttag_tolerant(s: str, i: int):
    """Recovery scan for a start tag at ``s[i] == '<'`` that the fast
    ``_STARTTAG_RX`` rejected. Mirrors html.parser's
    ``check_for_whole_start_tag`` + ``parse_starttag`` (and ``goahead``'s
    at-EOF bogus-tag recovery) exactly, so the fast scanner stays
    tree-identical to ``parse_doc_stdlib`` instead of truncating the
    document at the first stray quote.

    Returns ``(tag, attrib, selfclose, newpos, text, unesc)``:
    ``tag is None`` means no element — emit ``text`` (unescaped iff
    ``unesc``) and resume scanning at ``newpos``.
    """
    n = len(s)
    j = _LOCATE_STARTTAG_END_RX.match(s, i).end()
    nxt = s[j:j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/" and s.startswith("/>", j):
        endpos = j + 2
    elif nxt == "" or nxt in _INCOMPLETE_NEXT:
        # incomplete at end of input: html.parser emits up to and including
        # the next '>' (else up to the next '<', else one char), entity-
        # unescaped, and rescans after it
        k = s.find(">", i + 1)
        if k < 0:
            k = s.find("<", i + 1)
            if k < 0:
                k = i + 1
        else:
            k += 1
        return None, None, False, k, s[i:k], True
    else:
        endpos = j if j > i else i + 1  # bogus input
    m = _TAGFIND_TOL_RX.match(s, i + 1)
    tag = m.group(1).lower()
    k = m.end()
    attrib = {}
    while k < endpos:
        am = _ATTRFIND_TOL_RX.match(s, k)
        if am is None:
            break
        name, rest, value = am.group(1, 2, 3)
        if not rest:
            value = ""
        else:
            if value[:1] == "'" == value[-1:] or \
                    value[:1] == '"' == value[-1:]:
                value = value[1:-1]
            if value and "&" in value:
                value = unescape(value)
        name = _intern(name.lower())
        if name not in attrib:  # first occurrence wins, like the sink
            attrib[name] = value
        k = am.end()
    end = s[k:endpos].strip()
    if end not in (">", "/>"):
        # bogus tag: html.parser emits the RAW slice (no unescape) as data
        return None, None, False, endpos, s[i:endpos], False
    return tag, (attrib or None), end == "/>", endpos, None, False


# raw-text (CDATA) close mirrors stdlib endtagfind-in-cdata semantics:
# ONLY '</ ws? script ws? >' (case-insensitive) leaves raw mode —
# '</script foo>' and '</scriptx>' do NOT close it in html.parser (the
# raw element then swallows to EOF, which the scanner reproduces)
_RAW_END_RX = {
    "script": re.compile(r"</\s*script\s*>", re.I),
    "style": re.compile(r"</\s*style\s*>", re.I),
}


class _FastScanner(_SinkMixin):
    def __init__(self) -> None:
        self._init_sink()

    def feed(self, s: str) -> None:
        n = len(s)
        find = s.find
        pos = 0
        data = self.handle_data
        # hot loop: bind the per-tag callees/matchers once (attribute
        # lookups per element add up at ~300 elements/doc x 10^12 docs)
        endtag = self.handle_endtag
        start_node = self._start_node
        starttag_match = _STARTTAG_RX.match
        simple_tag_match = _SIMPLE_TAG_RX.match
        tagname_match = _TAG_NAME_RX.match
        intern_ = _intern
        # attr strings repeat heavily (boilerplate classes) — share one
        # read-only dict per distinct string: fewer allocations = less
        # memory-bandwidth pressure at high worker counts (SURVEY §7.1)
        attr_memo: dict = {}
        while pos < n:
            lt = find("<", pos)
            if lt < 0:
                chunk = s[pos:]
                data(unescape(chunk) if "&" in chunk else chunk)
                return
            if lt > pos:
                chunk = s[pos:lt]
                data(unescape(chunk) if "&" in chunk else chunk)
            c = s[lt + 1:lt + 2]
            if c == "/":
                # mirror html.parser parse_endtag recovery exactly
                if find(">", lt + 2) < 0:
                    # incomplete end tag at EOF: goahead emits '<' (up to
                    # the next '<' if any) as data and rescans after it
                    k = find("<", lt + 1)
                    if k < 0:
                        k = lt + 1
                    chunk = s[lt:k]
                    data(unescape(chunk) if "&" in chunk else chunk)
                    pos = k
                    continue
                m = _ENDTAG_RX.match(s, lt)  # </ ws? name ws? >
                if m:
                    endtag(m.group(1).lower())
                    pos = m.end()
                    continue
                m = tagname_match(s, lt + 2)
                if m:
                    # name matched; other stuff before '>' is ignored
                    endtag(m.group(1).lower())
                    pos = find(">", m.end()) + 1
                    continue
                if s.startswith("</>", lt):
                    pos = lt + 3  # '</>' is silently dropped
                    continue
                # bogus end tag → comment up to '>' (comments are dropped)
                pos = find(">", lt + 2) + 1
                continue
            if c == "!" or c == "?":
                # mirror html.parser: parse_comment (closes on --\s*>),
                # parse_marked_section, parse_pi / parse_bogus_comment /
                # doctype (all: first '>'); every handler output is
                # dropped by the sink, so only CONSUMPTION must match
                newpos = -1
                if s.startswith("<!--", lt):
                    m = _COMMENT_CLOSE_RX.search(s, lt + 4)
                    if m:
                        newpos = m.end()
                elif s.startswith("<![", lt):
                    nm = _DECLNAME_RX.match(s, lt + 3)
                    name = nm.group().strip().lower() if nm else None
                    if name in ("temp", "cdata", "ignore", "include",
                                "rcdata"):
                        m = _MARKED_CLOSE_RX.search(s, lt + 3)
                        if m:
                            newpos = m.end()
                    elif name in ("if", "else", "endif"):
                        m = _MSMARKED_CLOSE_RX.search(s, lt + 3)
                        if m:
                            newpos = m.end()
                    else:
                        # stdlib error()s on unknown keywords; this
                        # scanner stays TOTAL: bogus-comment recovery
                        gt = find(">", lt + 2)
                        if gt >= 0:
                            newpos = gt + 1
                else:
                    gt = find(">", lt + 2)
                    if gt >= 0:
                        newpos = gt + 1
                if newpos < 0:
                    # goahead at-EOF recovery: emit up to and including
                    # the next '>' (else up to the next '<', else one
                    # char) as unescaped data, then rescan after it
                    k = find(">", lt + 1)
                    if k < 0:
                        k = find("<", lt + 1)
                        if k < 0:
                            k = lt + 1
                    else:
                        k += 1
                    chunk = s[lt:k]
                    data(unescape(chunk) if "&" in chunk else chunk)
                    pos = k
                    continue
                pos = newpos
                continue
            if not ("a" <= c <= "z" or "A" <= c <= "Z"):
                # stray '<' → literal text, like the stdlib recovery
                # (ASCII-only test: html.parser's starttagopen is <[a-zA-Z],
                # so '<é' is text there too — str.isalpha would diverge)
                data("<")
                pos = lt + 1
                continue
            m = simple_tag_match(s, lt + 1) or starttag_match(s, lt + 1)
            if m is None:
                # fast regex rejects tags html.parser recovers from
                # (unterminated quote, quote/'<' inside an unquoted value
                # or attribute name): exact stdlib-mirror recovery
                tag, attrib, selfclose, pos, text, unesc = \
                    _starttag_tolerant(s, lt)
                if tag is None:
                    if text:
                        data(unescape(text)
                             if unesc and "&" in text else text)
                    continue
                tag = intern_(tag)
            else:
                tag = m.group(1).lower()
                attr_str = m.group(2)
                selfclose = bool(m.group(3))
                if attr_str and not attr_str.isspace():
                    attrib = attr_memo.get(attr_str)
                    if attrib is None:
                        attrib = {}
                        for am in _ATTR_RX.finditer(attr_str):
                            k = intern_(am.group(1).lower())
                            if k in attrib:
                                continue  # first occurrence wins
                            v = am.group(2)
                            if v is None:
                                v = am.group(3)
                            if v is None:
                                v = am.group(4)
                            if v:
                                if "&" in v:
                                    v = unescape(v)
                            else:
                                v = ""
                            attrib[k] = v
                        if len(attr_memo) > 8192:  # bound per-doc memo memory
                            attr_memo.clear()
                        attr_memo[attr_str] = attrib
                else:
                    attrib = None
                tag = intern_(tag)
                pos = m.end()
            raw = _RAW_END_RX.get(tag)
            if raw is not None and not selfclose:
                # raw-text element: usually skipped, but JSON-LD scripts
                # are kept as metadata leaf nodes (same as the sink path).
                # Close-tag scan: hop between literal '</' occurrences and
                # try the anchored '</ ws? name ws? >' match at each — a
                # bare raw.search would lose re's literal-prefix fast scan
                # ('</\\s*script' has only '</' literal; measured 14%
                # whole-parse cost on real pages).
                em = None
                j = pos
                while True:
                    j = find("</", j)
                    if j < 0:
                        break
                    em = raw.match(s, j)
                    if em:
                        break
                    j += 2
                body_end = em.start() if em else n
                if tag == "script" and attrib \
                        and "ld+json" in (attrib.get("type") or "").lower():
                    start_node(tag, attrib)
                    data(s[pos:body_end])
                    endtag(tag)
                pos = em.end() if em else n
                continue
            if selfclose:
                if tag in _DROP_SUBTREES:
                    continue  # self-closed script/style etc: nothing kept
                start_node(tag, attrib)
                if tag not in VOID_ELEMENTS:
                    endtag(tag)
            else:
                start_node(tag, attrib)


def memo_search(rx, memo: dict, s: str) -> bool:
    """``rx.search(s) is not None`` with a bounded per-regex memo —
    class/id strings are boilerplate that repeats across nodes and docs,
    so cue regexes hit the same strings millions of times at corpus scale.
    Pure caching: behavior is identical to the direct search."""
    v = memo.get(s)
    if v is None:
        v = rx.search(s) is not None
        if len(memo) > 50000:  # bound memory across a long-lived worker
            memo.clear()
        memo[s] = v
    return v


def parse_doc(html: str) -> Node:
    """Parse possibly-malformed HTML into a Node tree; never raises on tag
    soup. Fast regex scanner by default; stdlib html.parser as the
    (deterministic, per-document) fallback on scanner errors."""
    scanner = _FastScanner()
    try:
        scanner.feed(html)
        return scanner.root
    except Exception:
        scanner.root.release()  # the partial tree is a reference cycle
    return parse_doc_stdlib(html)


def parse_doc_stdlib(html: str) -> Node:
    """stdlib-driven parse: ``parse_doc``'s fallback and the
    differential-testing reference. Releases its partial tree when
    html.parser raises."""
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        builder.root.release()
        raise
    return builder.root


__all__ = ["Node", "parse_doc", "parse_doc_stdlib", "VOID_ELEMENTS",
           "unescape"]
