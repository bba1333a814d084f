"""E14 — main-content extraction, arc90-readability family (SURVEY.md §2A).

BASELINE.json:north_rule requires "HTML boilerplate strip, DOM heuristics".
The algorithm is the public arc90/readability scheme (also the lineage the
reference sits in): score each <p>-like block by text length + comma count,
propagate to parent/grandparent, weight containers by class/id regexes,
penalize link-dense containers, pick the best container, and render its
paragraphs to text joined by blank lines.

Pure function of the DOM — no wall clock, no randomness (SURVEY.md §4.3).
"""

from __future__ import annotations

import re
from typing import Optional

from .htmlparse import Node
from .textutil import collapse_ws

_POS_CONTAINER_RX = re.compile(
    r"article|body|content|entry|hentry|main|page|post|text|blog|story",
    re.I)
_NEG_CONTAINER_RX = re.compile(
    r"combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|"
    r"outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|"
    r"tool|widget|nav|menu|header|social|share|breadcrumb|byline|dateline",
    re.I)

_PARA_TAGS = ("p", "pre", "blockquote", "td")
_MIN_PARA_CHARS = 25


def _class_weight(node: Node) -> float:
    w = 0.0
    cid = node.class_id
    if cid:
        if _NEG_CONTAINER_RX.search(cid):
            w -= 25.0
        if _POS_CONTAINER_RX.search(cid):
            w += 25.0
    return w


def _link_text_len(node: Node) -> int:
    return sum(len(collapse_ws(a.text_content())) for a in node.iter("a"))


def _link_density(node: Node) -> float:
    total = len(collapse_ws(node.text_content()))
    if total == 0:
        return 0.0
    return min(1.0, _link_text_len(node) / total)


def score_containers(doc: Node) -> dict[int, tuple[Node, float]]:
    """arc90 inner loop: paragraph scores accumulate on parents (full) and
    grandparents (half)."""
    scores: dict[int, tuple[Node, float]] = {}

    def bump(container: Optional[Node], amount: float) -> None:
        if container is None or container.tag in ("#document", "html", "body"):
            return
        key = id(container)
        if key not in scores:
            scores[key] = (container, _class_weight(container) + 5.0)
        node, s = scores[key]
        scores[key] = (node, s + amount)

    for p in doc.iter(*_PARA_TAGS):
        txt = collapse_ws(p.text_content())
        if len(txt) < _MIN_PARA_CHARS:
            continue
        score = 1.0 + min(len(txt) // 100, 3) + txt.count(",")
        bump(p.parent, score)
        if p.parent is not None:
            bump(p.parent.parent, score / 2.0)

    # final adjust: multiply by (1 - link_density)
    for key, (node, s) in list(scores.items()):
        scores[key] = (node, s * (1.0 - _link_density(node)))
    return scores


def best_container(doc: Node) -> Optional[Node]:
    scores = score_containers(doc)
    best: Optional[Node] = None
    best_score = float("-inf")
    for node, s in scores.values():
        if s > best_score:
            best, best_score = node, s
    return best


def _render_paragraphs(container: Node) -> list[str]:
    """Paragraph-level text of a container: direct scoring blocks rendered
    in document order, boilerplate-classed children skipped."""
    paras: list[str] = []
    _walk_paragraphs(container, paras)
    return paras


def _walk_paragraphs(n: Node, paras: list[str]) -> None:
    # a module-level helper, not a nested closure: a recursive closure
    # is a function <-> cell reference cycle on every call
    for c in n.content:
        if not isinstance(c, Node):
            continue
        if _NEG_CONTAINER_RX.search(c.class_id):
            continue
        if c.tag in _PARA_TAGS:
            txt = collapse_ws(c.text_content())
            if len(txt) >= _MIN_PARA_CHARS and _link_density(c) < 0.5:
                paras.append(txt)
        else:
            _walk_paragraphs(c, paras)


def extract_text(doc: Node) -> Optional[str]:
    """E14 composed: best container's paragraphs joined by blank lines.
    None when no container qualifies (e.g. link-farm pages)."""
    container = best_container(doc)
    if container is None:
        return None
    paras = _render_paragraphs(container)
    if not paras:
        # qualifying siblings fallback: the container itself may be the <p>
        txt = collapse_ws(container.text_content())
        if len(txt) >= _MIN_PARA_CHARS and _link_density(container) < 0.3:
            paras = [txt]
    if not paras:
        return None
    return "\n\n".join(paras)


__all__ = ["extract_text", "best_container", "score_containers"]
