"""HTML main-content extraction (boilerplate stripping).

This is the web-page analog of the reference's 4-stage image
preprocessing + OCR (north_star): instead of enhance/denoise/deskew/
binarize over pixels we score DOM blocks by **text density** and
**link density** (readability/jusText-style) and keep high-text,
low-link blocks.

Structure deliberately mirrors the reference's dispatcher pattern
(/root/reference/backend/app/core/image_processors/binarizer.py:14-41):
a method registry with an ``auto`` mode that branches on input
statistics (binarizer.py:43-62 branches on pixel std; we branch on
overall link share).

Pure Python on purpose: this module is called from inside the
``mapInArrow`` extraction stage (one Arrow batch at a time); it must
not import pyspark. No bs4/lxml dependency: ``main_text`` segments with
``extract_blocks_fast``, a regex markup scanner; ``extract_blocks``
(stdlib ``html.parser``) is the reference it is tested against.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html import unescape
from html.parser import HTMLParser

# tags that open a new text block (flush the current segment)
BLOCK_TAGS = {
    "p", "div", "article", "section", "main", "li", "ul", "ol",
    "h1", "h2", "h3", "h4", "h5", "h6", "td", "tr", "table",
    "blockquote", "pre", "br", "hr", "body", "html",
}
# subtrees dropped entirely (never contribute text)
DROP_TAGS = {
    "script", "style", "head", "title", "nav", "footer", "header",
    "aside", "form", "noscript", "svg", "button", "select", "option",
    "iframe", "template",
}
VOID_TAGS = {"br", "hr", "img", "meta", "link", "input"}


@dataclass
class Block:
    text: str
    chars: int
    link_chars: int

    @property
    def link_density(self) -> float:
        return self.link_chars / self.chars if self.chars else 0.0


class _BlockCollector(HTMLParser):
    """Event-driven segmenter: text accumulates into the current block;
    block-level start/end tags flush; DROP_TAGS subtrees are skipped."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._chunks: list[str] = []
        self._link_chars = 0
        self._drop_depth = 0
        self._link_depth = 0

    def _flush(self) -> None:
        text = " ".join("".join(self._chunks).split())
        if text:
            self.blocks.append(Block(text, len(text), min(self._link_chars, len(text))))
        self._chunks = []
        self._link_chars = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in DROP_TAGS:
            if tag not in VOID_TAGS:
                self._drop_depth += 1
            return
        if tag == "a":
            self._link_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in DROP_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._drop_depth:
            return
        self._chunks.append(data)
        if self._link_depth:
            self._link_chars += len("".join(data.split()))  # approx; refined below

    def close(self) -> None:  # noqa: D102
        super().close()
        self._flush()


def extract_blocks(html_str: str) -> list[Block]:
    parser = _BlockCollector()
    parser.feed(html_str)
    parser.close()
    return parser.blocks


# ---------------------------------------------------- fast regex scanner
# stdlib HTMLParser spends ~84% of the extraction stage's CPU in
# per-tag attribute parsing and position tracking we never use. This
# scanner finds markup with one compiled regex and feeds the same
# block/drop/link state machine; on well-formed HTML the output is
# identical to ``extract_blocks`` (tests assert equality over the whole
# synthetic corpus). Divergence is confined to pathological tag soup
# (stray '<' recovery), where neither answer is canonical.

# group 1: the whole token, group 2: a tag's slash + name
_MARKUP_RE = re.compile(
    r"(<!--.*?(?:-->|$)"                      # comments (unterminated: to EOF)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"             # CDATA
    r"|<![^>]*>?"                             # doctype / declarations
    r"|<\?[^>]*>?"                            # processing instructions
    r"|<(/?[a-zA-Z][a-zA-Z0-9:_-]*)"          # tag: slash + name
    r"(?:[^>\"']+|\"[^\"]*\"|'[^']*')*>?)",   #   attrs (quoted '>' safe)
    re.S,
)
_RAWTEXT_END = {
    "script": re.compile(r"</script[\s>]", re.I),
    "style": re.compile(r"</style[\s>]", re.I),
}

# what a tag token does to the scanner's state
_NONE, _FLUSH, _DROP_OPEN, _DROP_CLOSE, _LINK_OPEN, _LINK_CLOSE, _RAWTEXT = range(7)


def _tag_action(token_name: str) -> int:
    closing = token_name[0] == "/"
    tag = (token_name[1:] if closing else token_name).lower()
    if tag in _RAWTEXT_END:
        # a stray close outside a rawtext body: script/style are
        # DROP_TAGS, so it pops drop depth like the stdlib twin
        return _DROP_CLOSE if closing else _RAWTEXT
    if tag in DROP_TAGS:
        if tag in VOID_TAGS:
            return _NONE
        return _DROP_CLOSE if closing else _DROP_OPEN
    if tag == "a":
        return _LINK_CLOSE if closing else _LINK_OPEN
    return _FLUSH if tag in BLOCK_TAGS else _NONE


def _runs_text(gap: str, pos: int, skip_until: int) -> str:
    """Text of a gap between two markup tokens that holds a stray '<'
    or starts inside a skipped rawtext body. Each stray '<' is dropped
    and splits the gap into runs; a run that starts before
    ``skip_until`` is dropped, and each run is unescaped on its own (an
    entity split by a stray '<' stays literal)."""
    out = []
    for run in gap.split("<"):
        if run and pos >= skip_until:
            out.append(unescape(run) if "&" in run else run)
        pos += len(run) + 1
    return "".join(out)


def extract_blocks_fast(html_str: str) -> list[Block]:
    blocks: list[Block] = []
    chunks: list[str] = []
    append = chunks.append
    link_chars = 0
    drop_depth = 0
    link_depth = 0

    def flush() -> None:
        nonlocal link_chars
        if chunks:  # adjacent block tags flush empty — skip the joins
            text = " ".join("".join(chunks).split())
            if text:
                blocks.append(Block(text, len(text), min(link_chars, len(text))))
            chunks.clear()
        link_chars = 0

    # ``split`` cuts the input at markup tokens in C, giving
    # [text, token, tag name, text, token, tag name, ..., text]: the
    # text between two tokens comes out as one slice. A '<' that starts
    # no token stays in the slice (see ``_runs_text``). Rawtext
    # (script/style) bodies are skipped by position: a token or text run
    # that starts before ``skip_until`` is discarded unexamined.
    # Per-call action cache: one dict hit replaces lower() + three
    # set-membership tests on every tag token.
    actions: dict[str, int] = {}
    skip_until = 0
    pos = 0  # input offset of the current token or text
    n = len(html_str)
    parts = _MARKUP_RE.split(html_str)
    parts[0:0] = ("", None)  # an empty token before the leading text
    it = iter(parts)
    for tok, name, text in zip(it, it, it):
        start = pos
        pos += len(tok)
        if name is not None and start >= skip_until:
            act = actions.get(name)
            if act is None:
                act = actions[name] = _tag_action(name)
            if act == _FLUSH:
                flush()
            elif act == _DROP_OPEN:
                drop_depth += 1
            elif act == _DROP_CLOSE:
                if drop_depth:
                    drop_depth -= 1
            elif act == _LINK_OPEN:
                link_depth += 1
            elif act == _LINK_CLOSE:
                if link_depth:
                    link_depth -= 1
            elif act == _RAWTEXT:
                # skip content up to the end tag; with none, the rest of
                # the input is body and is dropped
                close = _RAWTEXT_END[name.lower()].search(html_str, pos)
                if close is None:
                    break
                gt = html_str.find(">", close.start())
                skip_until = gt + 1 if gt != -1 else n
                # script/style are DROP_TAGS: nothing emitted
        if text:
            if drop_depth == 0:
                data = text
                if pos < skip_until or "<" in data:
                    data = _runs_text(data, pos, skip_until)
                elif "&" in data:
                    data = unescape(data)
                append(data)
                if link_depth:
                    link_chars += len("".join(data.split()))
            pos += len(text)
    flush()
    return blocks


# ------------------------------------------------------- method registry
def _density_filter(blocks: list[Block], min_chars: int, max_link_density: float) -> list[str]:
    return [
        b.text
        for b in blocks
        if b.chars >= min_chars and b.link_density <= max_link_density
    ]


def _plain(blocks: list[Block], min_chars: int, max_link_density: float) -> list[str]:
    return [b.text for b in blocks if b.text]


_METHODS = {
    "density": _density_filter,
    "plain": _plain,
}


def main_text(
    html_str: str,
    method: str = "auto",
    min_block_chars: int = 12,
    max_link_density: float = 0.35,
) -> str:
    """Extract main content; kept blocks joined by ``\\n``.

    ``auto`` (reference ``_auto_binarize`` pattern, binarizer.py:43-62):
    pages with zero link text have no boilerplate signal -> ``plain``;
    otherwise ``density``. Blocks come from ``extract_blocks_fast``.
    """
    blocks = extract_blocks_fast(html_str)
    if method == "auto":
        total_link = sum(b.link_chars for b in blocks)
        method = "plain" if total_link == 0 else "density"
    try:
        fn = _METHODS[method]
    except KeyError:
        raise ValueError(f"unknown html extraction method: {method!r}") from None
    return "\n".join(fn(blocks, min_block_chars, max_link_density))
