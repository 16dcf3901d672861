"""Pure-Python reference extraction kernel (zero Spark imports).

This module is the *reference implementation* of the extraction semantics:
golden outputs are computed by calling :func:`extract` directly, and the
Spark pipeline (``ocr_cezam_spark.operators.extract``) must reproduce them
byte-identically per url (BASELINE.json ``north_rule``).

It generalizes the reference pipeline (DrArtemi/ocr-cezam) from the pixel
domain to the web-text domain with the *same operator shapes*:

- background removal (``utils/utils.py:96-108``)        -> boilerplate strip
  (drop script/style/nav/header/footer/aside/comments)
- zone classification by box size (``utils/process_table.py:406-415``)
  -> main-content scoring by text-density / link-density / document order
- OCR line grouping (``utils/utils.py:47-72``)          -> text line model
  (lines of words over the extracted main text)
- field parsers (``utils/process_fields.py:26-61,110-122``) -> the same
  regex / keyword parsers over lines of words
- bank-id dictionary lookup (``utils/process_fields.py:11-23``) -> substring
  pattern scan in fixed dictionary order
- MRZ fixed-slice decode (``file_types/document_identite.py:211-262``)
  -> identical fixed-width slicing over 36/44-char '<' lines
- table detection (``utils/process_table.py:314-476``)  -> HTML <table>
  parsing into long-format cells (table_id, row_id, col_id, value)
- balance reconciliation ``check_solde``
  (``file_types/releve_bancaire.py:162-231``)           -> same arithmetic
  invariant over parsed tables
- fiscal-code semi-join (``file_types/bilan.py:166-209``) -> same code lists,
  with the 35<bbox_width<45 pixel gate (``bilan.py:172-174``) re-expressed as
  a 2-3 char cell-length gate.

Determinism rules (SURVEY.md section 7): pure function of (url, html, lang);
no process locale (French month names are an explicit mapping, never
``locale.setlocale`` as the reference does at ``ocr_cezam.py:26-31``); no
dict-order hazards (all iteration orders fixed); float rendering via
``repr``-stable Python ``str``.
"""

from __future__ import annotations

import datetime
import re

# --------------------------------------------------------------------------
# Dictionaries (analog of the reference's dict.json / banks.json; consumed
# as fixed in-process constants — in Spark they'd be broadcast, see
# SURVEY.md section 2.3 J1/J3).
# --------------------------------------------------------------------------

EMAIL_RGX = re.compile(r"[a-zA-Z0-9_.+-]+@[a-zA-Z0-9-]+\.[a-zA-Z0-9-.]+")

ADDRESS_KEYWORDS = ("rue", "avenue", "ave", "route", "boulevard", "square")
PHONE_KEYWORDS = ("tel", "tel:", "tél", "tél:", "tél.:", "tél.", "tel.:", "tel.")
PERSON_KEYWORDS = ("m", "m.", "mr", "mme", "mme.")
CREDIT_KEYWORDS = ("credit", "crédit", "cred", "créd")
DEBIT_KEYWORDS = ("debit", "débit", "deb", "déb")

# (bank_id, patterns) in fixed scan order — first hit wins, like the
# insertion-ordered dict scan at process_fields.py:19-22.
BANK_PATTERNS = (
    ("banque_populaire", ("banque populaire", "banquepopulaire")),
    ("credit_agricole", ("credit agricole", "crédit agricole")),
    ("cic", ("crédit industriel et commercial", "cic")),
    ("lcl", ("crédit lyonnais", "lcl")),
    ("credit_du_nord", ("crédit du nord", "cdn")),
    ("credit_mutuel", ("crédit mutuel", "credit mutuel")),
    ("bnp_paribas", ("bnp paribas",)),
    ("caisse_d_epargne", ("caisse d'épargne", "caisse d'epargne")),
)

# Per-bank date formats — the reference's file_configs/bank_configs/*.json
# date_format field, consumed at process_fields.py:110-121. All 8 banks,
# exactly the reference values: '%d %B %Y' -> 'fr', '%d/%m/%Y' -> 'slash',
# '%d.%m.%Y' -> 'dot'. The reference tries ONLY the configured format;
# falling back to the generic multi-try when it misses (get_date below) is
# an extension for bankless pages. Named formats, never strptime/locale.
BANK_DATE_FORMATS = {
    "banque_populaire": "slash",
    "bnp_paribas": "slash",
    "caisse_d_epargne": "slash",
    "cic": "fr",
    "credit_agricole": "fr",
    "credit_du_nord": "dot",
    "credit_mutuel": "fr",
    "lcl": "fr",
}

# Doc-type detection (J5, document_identite.py:148-162): every pattern of
# a kind must be a SUBSTRING of some whitespace-separated word of the page
# ("pattern in w.lower()" in the reference — 'nationale,' matches
# 'nationale'); first match in the reference's dict order wins
# (document_identite.py:27-40: passeport, carte_identite, titre_sejour).
# The fiscal kind uses the K8 page-type probe (bilan.py:109-136): a marker
# plus one of the DGFiP form numbers; tax_notice is a phrase match on the
# normalized text (avis_imposition.py:133-147).
# Each pattern slot is a tuple of ALTERNATIVES: some word must contain any
# one of them. The reference's accent-sensitive 'sejour' relies on OCR
# accent loss; this kernel reads true text, so the accented spelling is an
# accepted alternative (same documents, no OCR to strip the accent).
DOC_KIND_TOKEN_PATTERNS = (
    ("passport", (("passeport",),)),
    ("id_card", (("carte",), ("nationale",))),
    ("residence_permit", (("carte",), ("sejour", "séjour"))),
)
DOC_KIND_PHRASE_PATTERNS = (("tax_notice", ("avis d'imp",)),)
FISCAL_PROBE_MARKERS = ("liasse fiscale", "dgfip")
FISCAL_FORM_NUMBERS = ("2033", "2050", "2035")
STATEMENT_PATTERNS = ("relevé",)

# F20 field-spec table (document_identite.py:119-130): field name, trigger
# substring (matched by containment in any word, like the reference's
# `f in w.lower()`), index of the ':' whose following token is the value.
# KNOWN REFERENCE QUIRK, reproduced deliberately: 'nom:' is a substring of
# 'prénom:', so on a card whose Prénom line precedes the Nom line the
# kv_nom trigger fires on the prénom row first — exactly what the
# reference's get_field does with its ['nom'] trigger. Pinned by a unit
# test; fixing it here would diverge from the parity contract.
FIELD_SPECS = (
    ("kv_nom", "nom:", 0),
    ("kv_prenom", "prénom:", 0),
    ("kv_taille", "taille:", 0),
)
# F21 trigger words (document_identite.py:203-209): a row where one of
# these is a substring of some word may carry the 12-char document number.
ID_NUMBER_TRIGGERS = ("carte", "n°", "numéro", "numero")

# F7 tax-notice date pattern (avis_imposition.py:133-147, dict.json:7) —
# matched on the apostrophe-normalized lowered row; 'imp' without accent
# covers both impôt and impot renderings.
TAX_NOTICE_PATTERNS = ("avis d'imp",)

# Explicit French month mapping — replaces the reference's process-global
# locale dependence for %B parsing (ocr_cezam.py:26-31, a determinism hazard).
FR_MONTHS = (
    "janvier", "février", "mars", "avril", "mai", "juin",
    "juillet", "août", "septembre", "octobre", "novembre", "décembre",
)
_FR_MONTH_NUM = {m: i + 1 for i, m in enumerate(FR_MONTHS)}

# Fiscal form cell codes (public DGFiP liasse-fiscale codes; the reference
# inlines the same lists at bilan.py:35-62). Key = how many following value
# cells to capture.
FISCAL_NUMBER_CODES = {
    1: (
        "010 014 028 040 044 050 060 064 068 072 080 084 088 092 096 110 193 "
        "197 199 195 182 184 209 215 217 229 243 259 316 318 322 324 247 248 "
        "330 342 344 346 350 352 354 356 360 366 368 370 372 374 376 378 380 "
        "399 400 402 404 406 410 412 414 416 420 422 424 426 430 432 434 436 "
        "440 442 444 446 450 452 454 456 460 462 464 466 470 472 474 476 480 "
        "482 484 486 490 492 494 496 500 502 504 506 510 512 514 516 520 522 "
        "524 526 530 532 534 536 540 542 544 546 550 552 554 556 560 562 564 "
        "566 570 572 574 576 578 580 582 584 586 588 590 592 593 596 600 602 "
        "604 606 610 612 614 616 620 622 624 626 630 632 634 636 640 642 644 "
        "646 650 652 654 656 660 662 664 666 680 682 684 686 700 705 710 715 "
        "720 725 730 735 740 745 750 755 760 765 770 775 780 800 804 810 814 "
        "818 820 824 828 830 834 838 840 844 848 850 854 860 870 900 910 920 "
        "930 950 960"
    ).split(),
    2: (
        "120 124 126 130 132 134 136 140 142 154 156 164 166 172 174 176 180 "
        "210 214 218 222 224 226 230 232 234 236 238 240 242 244 250 252 254 "
        "256 262 264 270 280 290 300 306 310 312"
    ).split(),
    3: "012 016 030 042 048 052 062 066 070 074 082 086 090 094 098 112".split(),
}
FISCAL_LETTER_CODES = {
    1: (
        "AA AB AD AF AH AJ AL AN AP AR AT AV AX CS CU BB BD BF BH BJ BL BN BP "
        "BR BT BV BX BZ CB CD CF CH CJ CL CM CN CO"
    ).split(),
    2: (
        "AC AE AG AI AK AM AO AQ AS AU AW AY CT CV BC BE BG BI BK BM BO BQ BS "
        "BU BW BY CA CC CE CG CI CK 1A"
    ).split(),
}

# --------------------------------------------------------------------------
# HTML parsing into a block model
# --------------------------------------------------------------------------

# Subtrees dropped entirely — the boilerplate-strip analog of
# remove_background (utils/utils.py:96-108).
_DROP_TAGS = frozenset(
    {"script", "style", "head", "nav", "header", "footer", "aside",
     "noscript", "form", "template", "iframe"}
)
# Elements that delimit flow blocks inside the winning container.
_BLOCK_TAGS = frozenset(
    {"h1", "h2", "h3", "h4", "h5", "h6", "p", "pre", "ul", "ol", "li",
     "table", "blockquote", "div", "section", "article", "main"}
)
# Candidate main-content containers, scored like the reference scores
# candidate boxes by geometry (process_table.py:406-415).
_CONTAINER_TAGS = frozenset({"body", "div", "article", "section", "main"})
_VOID_TAGS = frozenset(
    {"br", "hr", "img", "meta", "link", "input", "area", "base", "col",
     "embed", "source", "track", "wbr"}
)


class _Node:
    __slots__ = ("tag", "children", "order")

    def __init__(self, tag: str, order: int):
        self.tag = tag
        self.children: list = []  # _Node or str
        self.order = order


def _norm(s: str) -> str:
    """Whitespace-collapse (the scrub analog, process_table.py:237,252,263)."""
    return " ".join(s.split())


# --- HTML tokenizer ----------------------------------------------------------
# Regex-based HTML tokenizer building the _Node tree (~3x faster than a
# stdlib html.parser tree builder, which would dominate kernel CPU).
# Semantics match html.parser(convert_charrefs=True) for the token grammar
# this engine defines: tags without '>' inside attribute values, non-greedy
# comments, raw-text script/style bodies, '<' followed by a non-letter
# treated as text.

_TOKEN_RX = re.compile(
    r"<!--.*?-->"                       # comment (dropped)
    r"|<!\[CDATA\[.*?\]\]>"             # CDATA (dropped)
    r"|<!(?:[^>]*)>"                    # doctype / declarations (dropped)
    # whole script/style elements consumed (and dropped) in ONE regex step:
    # both tags are in _DROP_TAGS, so their nodes and raw bodies never
    # influence text, scoring or tables — skipping them here removes the
    # per-element python rawtext handling from the hot loop. Non-greedy to
    # the first matching close tag = the old _RAWTEXT_CLOSE semantics.
    # An UNCLOSED script/style does not match and falls through to the
    # generic tag alternative + the rawtext fallback below.
    # (?<!/)> excludes self-closing <script/> — that form has no raw-text
    # body, so it must fall through to the generic-tag alternative whose
    # trailing-'/' check emits an empty element and KEEPS following text
    # (html.parser parity; swallowing to a later </script> would drop it)
    r"|(?i:<(script|style)\b[^>]*(?<!/)>.*?</\1[^>]*>)"
    # start / end tag; attributes matched GREEDILY ([^>]* cannot cross the
    # '>', so greedy == the old non-greedy '[^>]*?(/?)' semantics without
    # its per-char backtracking) — self-close is a trailing-'/' check on
    # the match text instead of a capture group
    r"|<(/?)([a-zA-Z][a-zA-Z0-9:-]*)[^>]*>",
    re.DOTALL,
)
_RAWTEXT_CLOSE = {
    "script": re.compile(r"</script[^>]*>", re.IGNORECASE),
    "style": re.compile(r"</style[^>]*>", re.IGNORECASE),
}


MAX_TREE_DEPTH = 256  # browser-like nesting cap: deeper elements flatten
# into the depth-cap node's children instead of growing the stack, so
# pathological pages (50k unclosed <p>) stay linear and recursion-safe.


from html import unescape  # noqa: E402 — used by the fast parser below


_LC_TAGS: dict = {}  # interned lowercase tag cache: the tag vocabulary of
# real HTML is tiny, so one dict hit replaces a str.lower() per token AND
# makes subsequent tag comparisons pointer-equal. Capped: custom-element
# spam (the tag regex admits arbitrary names) must not grow executor
# memory without bound across a long-lived worker's documents.
_LC_TAGS_CAP = 4096


def _fast_parse(html: str) -> _Node:
    root = _Node("#root", 0)
    stack = [root]
    # hot-loop locals: the current node's child list is tracked directly
    # (updated on push/pop) so the per-token stack[-1].children attribute
    # chain disappears; module globals are bound once
    top_children = root.children
    search = _TOKEN_RX.search
    void_tags, rawtext = _VOID_TAGS, _RAWTEXT_CLOSE
    unesc = unescape
    lc = _LC_TAGS
    order = 0
    pos = 0
    n = len(html)
    while pos < n:
        m = search(html, pos)
        if m is None:
            text = html[pos:]
            if text:
                top_children.append(unesc(text) if "&" in text else text)
            break
        if m.start() > pos:
            text = html[pos : m.start()]
            top_children.append(unesc(text) if "&" in text else text)
        pos = m.end()
        closing, tag = m.group(2, 3)
        if tag is None:  # comment / CDATA / doctype / script / style
            continue
        t = lc.get(tag)
        if t is None:
            t = tag.lower()
            if len(lc) < _LC_TAGS_CAP:
                lc[tag] = t
        tag = t
        if closing:  # end tag: pop to the matching open tag (tolerant)
            if stack[-1].tag == tag and len(stack) > 1:
                # well-nested fast path: no range scan, no slice delete
                stack.pop()
                top_children = stack[-1].children
                continue
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    top_children = stack[-1].children
                    break
            continue
        if tag in void_tags:
            if tag == "br":
                top_children.append(" ")
            continue
        order += 1
        node = _Node(tag, order)
        top_children.append(node)
        if html[pos - 2] == "/":  # explicit self-close: empty element
            continue
        if tag in rawtext:  # raw-text element: skip to its close tag
            mc = rawtext[tag].search(html, pos)
            if mc is None:
                node.children.append(html[pos:])
                break
            node.children.append(html[pos : mc.start()])
            pos = mc.end()
            continue
        if len(stack) < MAX_TREE_DEPTH:
            stack.append(node)
            top_children = node.children
        # beyond the cap the element stays a leaf; following content
        # flattens into the capped ancestor (depth-bounded like browsers)
    return root


def _walk_text(node: _Node, memo: dict | None = None,
               skip_tables: bool = False) -> tuple[str, int]:
    """(raw text, link-text chars) of a subtree, skipping dropped tags.

    ``skip_tables`` is the TEXT-RECOVERY mode: tables anywhere under a
    block (not just as direct flow blocks) go to the cells output, never
    into the main text — without it a table nested in a li/p leaked its
    cell text into `text` while also being emitted as cells. Container
    SCORING keeps table text (density counts all visible text), so the
    two modes memoize separately — never share a memo dict across modes.

    ``memo`` (id(node) -> result) makes repeated walks — container scoring
    visits every ancestor of every node — O(nodes) total instead of
    O(depth * nodes)."""
    if memo is not None:
        hit = memo.get(id(node))
        if hit is not None:
            return hit
    parts: list[str] = []
    link_chars = 0
    for child in node.children:
        if isinstance(child, str):
            parts.append(child)
        elif child.tag in _DROP_TAGS:
            continue
        elif skip_tables and child.tag == "table":
            continue
        else:
            t, l = _walk_text(child, memo, skip_tables)
            parts.append(" " + t + " ")
            link_chars += len(_norm(t)) if child.tag == "a" else l
    result = ("".join(parts), link_chars)
    if memo is not None:
        memo[id(node)] = result
    return result


def _score_containers(node: _Node, out: list, memo: dict | None = None) -> None:
    if node.tag in _DROP_TAGS:
        return
    if node.tag in _CONTAINER_TAGS:
        text, link_chars = _walk_text(node, memo)
        n = len(_norm(text))
        if n > 0:
            # text mass discounted by link density — the DOM analog of the
            # reference's w/h box-classification predicate (P4).
            score = n * (1.0 - link_chars / n)
            out.append((score, -node.order, node))
    for child in node.children:
        if isinstance(child, _Node):
            _score_containers(child, out, memo)


def _flow_blocks(node: _Node, memo: dict | None = None) -> list[_Node | str]:
    """Flatten a container into flow blocks; nested containers recurse.
    ``memo`` is the TEXT-mode walk memo (tables skipped) threaded from
    _extract_inner so inline subtrees are not re-traversed."""
    blocks: list = []
    inline: list[str] = []

    def flush():
        if inline:
            blocks.append("".join(inline))
            inline.clear()

    for child in node.children:
        if isinstance(child, str):
            inline.append(child)
        elif child.tag in _DROP_TAGS:
            continue
        elif child.tag in ("div", "section", "article", "main"):
            flush()
            blocks.extend(_flow_blocks(child, memo))
        elif child.tag in _BLOCK_TAGS:
            flush()
            blocks.append(child)
        else:  # inline element: merge its text into the running block
            inline.append(" " + _walk_text(child, memo, True)[0] + " ")
    flush()
    return blocks


_HEADING_TAGS = ("h1", "h2", "h3", "h4", "h5", "h6")


def _find_headings(node: _Node, out: list, memo: dict) -> None:
    """Document-ordered (level, text) headings of the whole DOM — the
    page OUTLINE, the layout skeleton heading-aware passage chunking
    keys on (the web analog of the reference's zone schema: a named
    projection of the page's structure, SURVEY.md 1.1 item 6). Same
    DFS discipline as _find_tables (document order = O1 contour sort);
    headings inside dropped tags vanish, nested headings (invalid
    HTML) keep the outermost. Heading text reuses the SCORING-mode
    _walk_text memo — container scoring has already walked every one
    of these subtrees, so this pass is O(headings) lookups."""
    if node.tag in _DROP_TAGS:
        return
    if node.tag in _HEADING_TAGS:
        t = _norm(_walk_text(node, memo)[0])
        if t:
            out.append((int(node.tag[1]), t))
        return
    for child in node.children:
        if isinstance(child, _Node):
            _find_headings(child, out, memo)


def _find_tables(node: _Node, out: list) -> None:
    if node.tag in _DROP_TAGS:
        return
    if node.tag == "table":
        out.append(node)
        return
    for child in node.children:
        if isinstance(child, _Node):
            _find_tables(child, out)


def _table_cells(table: _Node) -> list[list[str]]:
    rows: list[list[str]] = []

    def scan(node: _Node):
        for child in node.children:
            if not isinstance(child, _Node):
                continue
            if child.tag == "tr":
                cells = [
                    _norm(_walk_text(c)[0])
                    for c in child.children
                    if isinstance(c, _Node) and c.tag in ("td", "th")
                ]
                if cells:
                    rows.append(cells)
            else:
                scan(child)

    scan(table)
    return rows


# --------------------------------------------------------------------------
# Field parsers over the line-of-words model (process_fields.py analogs)
# --------------------------------------------------------------------------


def _lines_of_words(text: str) -> list[list[str]]:
    """W1 analog of process_text (utils/utils.py:47-72)."""
    return [line.split(" ") for line in text.split("\n") if line]


def get_full_name(lines) -> str | None:
    """Last honorific in the first matching row, join remainder
    (process_fields.py:52-61)."""
    for row in lines:
        last = -1
        for j, word in enumerate(row):
            if word.lower() in PERSON_KEYWORDS:
                last = j
        if last != -1:
            return " ".join(row[last + 1:])
    return None


def get_address(lines) -> str | None:
    """Street-keyword row + next row (process_fields.py:26-33)."""
    for i, row in enumerate(lines):
        for word in row:
            if word.lower() in ADDRESS_KEYWORDS:
                return " ".join(row + lines[i + 1] if i + 1 < len(lines) else row)
    return None


def get_phone(lines) -> str | None:
    """Keyword row -> join tokens after the keyword, strip ':'
    (process_fields.py:36-42)."""
    for row in lines:
        for word in row:
            if word.lower() in PHONE_KEYWORDS:
                return "".join(row[1:]).replace(":", "")
    return None


def get_email(lines) -> str | None:
    for row in lines:
        for word in row:
            if EMAIL_RGX.search(word):
                return word
    return None


_DATE_SLASH = re.compile(r"^(\d{1,2})/(\d{1,2})/(\d{4})$")
_DATE_DOT = re.compile(r"^(\d{1,2})\.(\d{1,2})\.(\d{4})$")
_DATE_FR = re.compile(r"^(\d{1,2}) (\w+) (\d{4})$", re.UNICODE)


def _try_date_fmt(s: str, fmt: str) -> tuple[int, int, int] | None:
    """Parse s strictly in one named format ('fr', 'slash', 'dot') — the
    locale-free analog of a single strptime format string. Calendar-valid
    only (30/02 rejected), matching both the reference's strptime and the
    native twin's try_to_date."""
    # every supported format starts with a digit; the guard skips the
    # regex machinery for the overwhelmingly common non-date candidate
    # (semantics identical: all three patterns are ^\d-anchored)
    if not s[:1].isdigit():
        return None
    if fmt == "fr":
        m = _DATE_FR.match(s)
        if not (m and m.group(2).lower() in _FR_MONTH_NUM):
            return None
        d, mo, y = int(m.group(1)), _FR_MONTH_NUM[m.group(2).lower()], int(m.group(3))
    elif fmt == "slash":
        m = _DATE_SLASH.match(s)
        if not m:
            return None
        d, mo, y = int(m.group(1)), int(m.group(2)), int(m.group(3))
    elif fmt == "dot":
        m = _DATE_DOT.match(s)
        if not m:
            return None
        d, mo, y = int(m.group(1)), int(m.group(2)), int(m.group(3))
    else:
        return None
    try:
        datetime.date(y, mo, d)
    except ValueError:
        return None
    return (d, mo, y)


def _try_date(s: str) -> tuple[int, int, int] | None:
    """Multi-format date parse (process_fields.py:110-122), locale-free."""
    for fmt in ("fr", "slash", "dot"):
        parsed = _try_date_fmt(s, fmt)
        if parsed:
            return parsed
    return None


def get_date(lines, date_format: str | None = None) -> str | None:
    """Whole line first, then per word (process_fields.py:110-121).

    For a recognized bank, the configured format is tried across ALL
    candidates first — the reference tries ONLY the configured format, so
    a statement whose earlier lines happen to parse under a *different*
    format must not short-circuit the scan. The generic multi-try pass is
    an EXTENSION for pages with no recognized bank (and a fallback when
    the configured-format scan comes up empty). Re-rendered '%d %B %Y'
    French (releve_bancaire.py:117)."""

    def _scan(try_one) -> tuple[int, int, int] | None:
        for row in lines:
            # single-token rows: the joined line IS the word (skip the
            # join); the digit guard is hoisted so a non-date candidate
            # costs one isdigit instead of four guarded format attempts
            cands = row if len(row) == 1 else [" ".join(row)] + row
            for cand in cands:
                if not cand[:1].isdigit():
                    continue
                parsed = try_one(cand)
                if parsed:
                    return parsed
        return None

    parsed = None
    if date_format:
        parsed = _scan(lambda c: _try_date_fmt(c, date_format))
    if parsed is None:
        parsed = _scan(_try_date)
    if parsed:
        d, mo, y = parsed
        return f"{d:02d} {FR_MONTHS[mo - 1]} {y}"
    return None


def get_tax_date(lines) -> str | None:
    """F7: apostrophe-normalized row matching the tax-notice patterns ->
    last token of that row (avis_imposition.py:133-147)."""
    for row in lines:
        norm = " ".join(row).replace("’", "'").lower()
        if all(p in norm for p in TAX_NOTICE_PATTERNS):
            return row[-1]
    return None


def get_field_after_colon(lines, trigger: str, idx: int) -> str | None:
    """F20 generic key:value extract (document_identite.py 'get_field'
    semantics): first row where the trigger is a SUBSTRING of some word
    (the reference's `f in w.lower()` — matches 'nom:' inside 'prénom:'-
    free contexts and punctuation-attached tokens) and whose segment
    after the idx-th ':' is non-empty -> first token of that segment."""
    for row in lines:
        if not any(trigger in w.lower() for w in row):
            continue
        parts = " ".join(row).split(":")
        if len(parts) > idx + 1:
            seg = parts[idx + 1].strip()
            if seg:
                return seg.split(" ")[0]
    return None


def get_id_number(lines) -> str | None:
    """F21 12-char id heuristic (document_identite.py:203-209): first
    12-char token in a row where some word CONTAINS an id trigger (the
    reference's `f in w.lower()` — 'carte,' and 'n°:' qualify)."""
    for row in lines:
        if any(t in w.lower() for w in row for t in ID_NUMBER_TRIGGERS):
            for w in row:
                if len(w) == 12:
                    return w
    return None


def detect_doc_kind(text: str) -> str:
    """J5 forall-pattern classifier + K8 fiscal page-type probe over the
    extracted main text; ordered first-match like the reference's dispatch
    dict. Identity kinds use per-word substring containment
    (document_identite.py:153-158: `pattern in w.lower()` — each pattern
    must hit SOME word, words need not be adjacent); tax_notice is a
    phrase match. Unclassified pages are generic 'web_page'."""
    low = text.lower().replace("’", "'")
    # substring-in-some-word implies substring-in-text, so the cheap text
    # scan is an exact pre-filter: the word split (a full-text allocation)
    # only runs for pages where every pattern slot already hits somewhere
    words = None
    for kind, slots in DOC_KIND_TOKEN_PATTERNS:
        if all(any(p in low for p in alts) for alts in slots):
            if words is None:
                words = low.split()
            if all(
                any(p in w for w in words for p in alts) for alts in slots
            ):
                return kind
    for kind, patterns in DOC_KIND_PHRASE_PATTERNS:
        if all(p in low for p in patterns):
            return kind
    if any(m in low for m in FISCAL_PROBE_MARKERS) and any(
        n in low for n in FISCAL_FORM_NUMBERS
    ):
        return "fiscal"
    if all(p in low for p in STATEMENT_PATTERNS):
        return "statement"
    return "web_page"


def get_bank_id(text: str) -> str | None:
    """Substring scan in fixed order (process_fields.py:11-23)."""
    low = text.lower()
    for bank_id, patterns in BANK_PATTERNS:
        for pat in patterns:
            if pat in low:
                return bank_id
    return None


# --------------------------------------------------------------------------
# MRZ (document_identite.py:203-262 analogs)
# --------------------------------------------------------------------------


def _mrz_lines(lines, width: int) -> tuple[str, str] | None:
    found = []
    for row in lines:
        stacked = "".join(row)
        if len(stacked) == width and "<" in stacked:
            found.append(stacked)
    if len(found) > 1:
        return found[0], found[1]
    return None


def _mrz_date(d: str) -> str:
    """YYMMDD -> DD.MM.YY (document_identite.py:248-252)."""
    return d[4:6] + "." + d[2:4] + "." + d[0:2]


def decode_mrz(lines, width: int | None = None) -> dict[str, str]:
    """ID-card (36-char) then passport (44-char) fixed-slice decode
    (document_identite.py:211-246). The reference dispatches the MRZ
    width by document kind (parse_carte_identite uses get_mrz default
    char=36, parse_passeport/parse_titre_sejour pass char=44); width=36
    or 44 reproduces that, width=None keeps the generic 36-then-44 probe
    for direct callers."""
    fields: dict[str, str] = {}
    idc = _mrz_lines(lines, 36) if width in (None, 36) else None
    if idc:
        l1, l2 = idc
        fields["mrz_type"] = "id_card"
        fields["mrz_nom"] = l1[5:30].replace("<", "")
        fields["mrz_prenom"] = " ".join(l2[13:27].replace("<", " ").split())
        fields["mrz_sexe"] = l2[34]
        fields["mrz_date_naissance"] = _mrz_date(l2[27:33])
        fields["mrz_date_remise"] = l2[2:4] + "." + l2[0:2]
        fields["mrz_lieu_remise"] = l1[30:32]
        return fields
    pp = _mrz_lines(lines, 44) if width in (None, 44) else None
    if pp:
        l1, l2 = pp
        full = l1[5:]
        fields["mrz_type"] = "passport"
        fields["mrz_nom"] = full.split("<<")[0].replace("<", " ").strip()
        fields["mrz_prenom"] = " ".join(
            " ".join(full.split("<<")[1:]).replace("<", " ").split()
        )
        fields["mrz_numero"] = l2[:9]
        fields["mrz_sexe"] = l2[20]
        fields["mrz_date_naissance"] = _mrz_date(l2[13:19])
        fields["mrz_date_validite"] = _mrz_date(l2[21:27])
    return fields


# --------------------------------------------------------------------------
# Balance reconciliation (check_solde, releve_bancaire.py:162-231)
# --------------------------------------------------------------------------


_NUM_RX = re.compile(r"^-?[0-9]+([.,][0-9]+)?$")


def _parse_float(v: str) -> float | None:
    """French decimal comma -> dot (releve_bancaire.py:167), gated by the
    same strict numeric shape as the native-Spark twin (NUM_RX in
    operators/solde.py). Bare float() would also accept '.5', '1e3',
    '1_000' and padded whitespace — shapes Spark/DuckDB casts treat
    differently, so the permissive gate would be engine-divergent."""
    if not _NUM_RX.match(v):
        return None
    return float(v.replace(",", "."))


def _find_col(header: list[str], keywords) -> int | None:
    for i, name in enumerate(header):
        low = name.strip().lower()
        if any(k in low for k in keywords):
            return i
    return None


def check_solde(rows: list[list[str]]) -> tuple[str, str]:
    """Reconcile one table: returns (status, detail).

    Same decision tree as releve_bancaire.py:172-231:
    missing credit/debit/date columns -> Unknown; <2 solde markers on both
    sides -> Unknown; else recompute closing = opening +/- (debit-credit)
    over valid rows strictly between the first and last marker and compare.
    """
    if not rows:
        return ("Unknown", "columns missing : credit, debit, date")
    header = rows[0]
    width = len(header)
    body = [r + [""] * (width - len(r)) if len(r) < width else r[:width] for r in rows[1:]]

    cred = _find_col(header, CREDIT_KEYWORDS)
    deb = _find_col(header, DEBIT_KEYWORDS)
    date = _find_col(header, ("date",))
    missing = [
        name
        for name, idx in (("credit", cred), ("debit", deb), ("date", date))
        if idx is None
    ]
    if missing:
        return ("Unknown", "columns missing : " + ", ".join(missing))

    solde_idx = [
        i for i, r in enumerate(body) if any("solde" in c.lower() for c in r)
    ]
    marks = {
        "credit": [(body[i][cred], i) for i in solde_idx if body[i][cred] != ""],
        "debit": [(body[i][deb], i) for i in solde_idx if body[i][deb] != ""],
    }
    if len(marks["credit"]) < 2 and len(marks["debit"]) < 2:
        return ("Unknown", "Not enough solde infos")

    side = "debit" if len(marks["debit"]) >= 2 else "credit"
    (first_val, first_i), (last_val, last_i) = marks[side][0], marks[side][-1]
    sub = body[first_i + 1: last_i]

    def side_sum(col: int) -> float:
        total = 0.0
        for r in sub:
            v = _parse_float(r[col]) if r[col] != "" else None
            if v is not None and r[date] != "" and "solde" not in r[date].lower():
                total += v
        return total

    cred_sum, deb_sum = side_sum(cred), side_sum(deb)
    first_f = _parse_float(first_val)
    last_f = _parse_float(last_val)
    if first_f is None or last_f is None:
        return ("Unknown", "Not enough solde infos")
    delta = (deb_sum - cred_sum) if side == "debit" else (cred_sum - deb_sum)
    res = round(first_f + delta, 2)
    if res == last_f:
        return ("Success", "Table values match final solde value.")
    return ("Error", f"table values {res} don't match final solde value {last_f}.")


# --------------------------------------------------------------------------
# Fiscal-code extraction (bilan.py:166-209 analog)
# --------------------------------------------------------------------------

_DIGITS_ONLY = re.compile(r"[^0-9]")


def extract_fiscal_codes(rows: list[list[str]]) -> list[tuple[str, int, str]]:
    """(code, pos, digit-filtered value) triples.

    The reference gates candidate cells on pixel bbox width 35<w<45
    (bilan.py:172-174); the text analog gates on cell length 2-3 chars.
    Following-value capture count comes from the code list the cell hits
    (bilan.py:179-186).
    """
    out: list[tuple[str, int, str]] = []
    for row in rows:
        for k, cell in enumerate(row):
            if not (2 <= len(cell) <= 3):
                continue
            digits = _DIGITS_ONLY.sub("", cell)
            n_vals = None
            code = None
            for n, codes in FISCAL_NUMBER_CODES.items():
                if digits and digits in codes:
                    n_vals, code = n, digits
                    break
            if n_vals is None:
                for n, codes in FISCAL_LETTER_CODES.items():
                    if cell in codes:
                        n_vals, code = n, cell
                        break
            if n_vals is None:
                continue
            for pos, value in enumerate(row[k + 1: k + 1 + n_vals]):
                out.append((code, pos, _DIGITS_ONLY.sub("", value)))
    return out


# --------------------------------------------------------------------------
# Top-level extract
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# PDF layout parse (the reference's pdf2image+OCR page path, utils/utils.py
# :15-29 + pytesseract, re-expressed as direct content-stream text
# recovery: no rasterization, no OCR — the text operators ARE the layout)
# --------------------------------------------------------------------------


_PDF_MAGIC = b"%PDF-"
_PDF_STREAM_OPEN_RX = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.DOTALL)
# direct /Length only — an indirect reference (/Length 12 0 R) can't be
# resolved without the xref table, so it falls back to the delimiter scan
# (?!\d|...) pins \d+ to the FULL digit run: without it the engine
# backtracks '/Length 123 0 R' to group(1)='12' until the indirect-ref
# lookahead passes, mis-reading an indirect length as a direct one
_PDF_LENGTH_RX = re.compile(rb"/Length\s+(\d+)(?!\d|\s+\d+\s+R)")
_PDF_ESCAPES = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C}
# PDF delimiters + whitespace: an operator token must be bounded by these
# (or the stream edge), so 'ET' inside 'INTERETS' never ends a text block
_PDF_DELIMS = frozenset(b"\x00\t\n\x0c\r ()<>[]{}/%")


def _pdf_string_at(b: bytes, i: int) -> tuple[str, int]:
    """Parse a PDF literal string starting at b[i] == '(' — balanced
    parens, backslash escapes, octal codes (PDF 32000-1 section 7.3.4.2).
    Bytes decode as cp1252 (WinAnsiEncoding, the standard simple-font
    encoding — covers the euro sign and em-dash latin-1 lacks).
    Returns (decoded text, index past the closing paren)."""
    i += 1
    depth = 1
    out = bytearray()
    n = len(b)
    while i < n and depth:
        ch = b[i]
        if ch == 0x5C:  # backslash
            nxt = b[i + 1] if i + 1 < n else -1
            if nxt in _PDF_ESCAPES:
                out.append(_PDF_ESCAPES[nxt])
                i += 2
            elif 0x30 <= nxt <= 0x37:  # up to 3 octal digits
                j = i + 1
                code = 0
                while j < n and j < i + 4 and 0x30 <= b[j] <= 0x37:
                    code = code * 8 + (b[j] - 0x30)
                    j += 1
                out.append(code & 0xFF)
                i = j
            elif nxt in (0x28, 0x29, 0x5C):
                out.append(nxt)
                i += 2
            elif nxt == 0x0A:  # line continuation
                i += 2
            else:
                i += 1  # lone backslash: dropped per spec
        elif ch == 0x28:
            depth += 1
            out.append(ch)
            i += 1
        elif ch == 0x29:
            depth -= 1
            if depth:
                out.append(ch)
            i += 1
        else:
            out.append(ch)
            i += 1
    return out.decode("cp1252", errors="replace"), i


def _pdf_streams(data: bytes):
    """Yield (dict_bytes, raw_body) for each stream object.

    When the stream dict carries a direct integer /Length, the body is
    sliced by that length (PDF 32000-1 section 7.3.8.2) and the slice is
    trusted iff 'endstream' follows it (after optional EOL) — so a
    FlateDecode body that happens to contain the byte sequence 'endstream'
    is no longer truncated at the first occurrence. Missing, indirect
    (/Length n 0 R) or inconsistent lengths fall back to the delimiter
    scan for the literal 'endstream'."""
    pos = 0
    n = len(data)
    while pos < n:
        m = _PDF_STREAM_OPEN_RX.search(data, pos)
        if not m:
            return
        dct = m.group(1)
        start = m.end()
        body = None
        lm = _PDF_LENGTH_RX.search(dct)
        if lm:
            end = start + int(lm.group(1))
            if end <= n and data[end:end + 16].lstrip(b"\r\n \t").startswith(
                b"endstream"
            ):
                body = data[start:end]
                pos = data.index(b"endstream", end) + 9
        if body is None:
            e = data.find(b"endstream", start)
            if e < 0:
                return
            body = data[start:e]
            pos = e + 9
        yield dct, body


def _pdf_op_at(body: bytes, i: int, op: bytes) -> bool:
    """True when `op` occurs at i as a standalone operator token — bounded
    by PDF delimiters/whitespace or the stream edge on BOTH sides (so the
    'ET' inside the shown word 'INTERETS' is never an operator; operands
    inside literal strings never reach this check because the string is
    consumed whole by _pdf_string_at)."""
    if body[i:i + len(op)] != op:
        return False
    if i > 0 and body[i - 1] not in _PDF_DELIMS:
        return False
    j = i + len(op)
    return j >= len(body) or body[j] in _PDF_DELIMS


def pdf_text(data: bytes) -> str:
    """Text recovery from a PDF's content streams — pure stdlib.

    FlateDecode streams are inflated with zlib; the stream is walked as a
    token sequence in which literal strings are consumed whole (balanced
    parens + escapes), so BT/ET/Td/TD/T* are only recognized as standalone
    operator tokens — byte sequences like 'ET' inside shown text cannot
    end a block. Inside BT..ET every literal string is shown text (the
    Tj/TJ/'/\" operands) and the line-positioning operators Td/TD/T* flush
    the current line — the naive text-extractor semantics, exact for the
    single-column documents this pipeline targets. Inside a TJ array, a
    kern of <= -180 thousandths of an em becomes a space (real PDFs encode
    inter-word gaps as large negative kerns; Tesseract likewise tokenizes
    on visual gaps, utils/utils.py:55-62), while small same-word kerns
    concatenate. Non-content streams (no BT) and undecodable streams are
    skipped; normalization matches the HTML path (_norm per line, empties
    dropped)."""
    import zlib

    lines: list[str] = []
    for dct, body in _pdf_streams(data):
        if b"/FlateDecode" in dct:
            try:
                body = zlib.decompress(body)
            except Exception:
                continue
        if b"BT" not in body:
            continue
        cur: list[str] = []
        in_text = False
        tj_depth = 0  # '['..']' nesting inside a text block (TJ arrays)
        i = 0
        n = len(body)
        while i < n:
            ch = body[i]
            if ch == 0x28:  # '(' — consume the string wherever it occurs
                s, i = _pdf_string_at(body, i)
                if in_text:
                    cur.append(s)
                continue
            if in_text and ch == 0x5B:  # '['
                tj_depth += 1
                i += 1
                continue
            if in_text and ch == 0x5D:  # ']'
                tj_depth = max(0, tj_depth - 1)
                i += 1
                continue
            if (
                in_text
                and tj_depth
                and ch == 0x2D  # '-': TJ kern numbers of interest are negative
                and (i == 0 or body[i - 1] in _PDF_DELIMS)
            ):
                j = i + 1
                while j < n and (0x30 <= body[j] <= 0x39 or body[j] == 0x2E):
                    j += 1
                if j > i + 1:
                    try:
                        kern = float(body[i:j])
                    except ValueError:
                        kern = 0.0
                    if kern <= -180:  # word gap in thousandths of an em
                        cur.append(" ")
                    i = j
                    continue
            if ch == 0x3C and body[i + 1:i + 2] != b"<":
                # hex string <4A6F> (not a '<<' dict): pairs of hex digits,
                # odd final digit padded with 0 (PDF 32000-1 7.3.4.3)
                end = body.find(b">", i + 1)
                if end < 0:
                    break
                hx = bytes(
                    c for c in body[i + 1:end]
                    if c not in b" \t\r\n\x0c\x00"
                )
                if len(hx) % 2:
                    hx += b"0"
                try:
                    decoded = bytes.fromhex(hx.decode("ascii"))
                except ValueError:
                    i = end + 1
                    continue
                if in_text:
                    cur.append(decoded.decode("cp1252", errors="replace"))
                i = end + 1
                continue
            if ch == 0x42 and _pdf_op_at(body, i, b"BT"):
                in_text = True
                tj_depth = 0
                i += 2
                continue
            if ch == 0x45 and _pdf_op_at(body, i, b"ET"):
                if cur:
                    lines.append("".join(cur))
                    cur = []
                in_text = False
                tj_depth = 0
                i += 2
                continue
            if in_text and ch == 0x54 and (
                _pdf_op_at(body, i, b"Td")
                or _pdf_op_at(body, i, b"TD")
                or _pdf_op_at(body, i, b"T*")
            ):
                if cur:
                    lines.append("".join(cur))
                    cur = []
                i += 2
                continue
            i += 1
        if cur:
            lines.append("".join(cur))
    return "\n".join(t for t in (_norm(l) for l in lines) if t)


# Anchor targets: the crawl-frontier output (hrefs feed recrawl queues,
# the host link graph for PageRank, and URL-canonicalization dedup
# downstream). (?<![-\w]) guards the attribute start — data-href is a
# template attribute, not a link (same rule as the robots meta regexes).
_A_HREF_RX = re.compile(
    r"""<a\b[^>]*?(?<![-\w])href\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""",
    re.IGNORECASE | re.DOTALL,
)
# Regions a browser never renders as markup: comments, CDATA, raw-text
# script/style bodies (the tokenizer's own alternatives) — an href inside
# them is NOT a link and must not enter the frontier.
_LINK_STRIP_RX = re.compile(
    r"<!--.*?-->"
    r"|<!\[CDATA\[.*?\]\]>"
    r"|(?i:<(script|style)\b[^>]*(?<!/)>.*?</\1[^>]*>)",
    re.DOTALL,
)
_SKIP_SCHEMES = ("javascript:", "mailto:", "tel:", "data:", "about:")

from html.entities import html5 as _HTML5_ENTITIES  # noqa: E402

# Attribute-value entity rule (HTML5 13.2.5.73): only references
# TERMINATED by ';' decode in attributes — html.unescape applies the
# text rule, which turns a query param like '&copy=2' into '©=2' and
# corrupts the URL a browser would fetch verbatim.
_ATTR_ENTITY_RX = re.compile(
    r"&(#[0-9]{1,7}|#[xX][0-9a-fA-F]{1,6}|[a-zA-Z][a-zA-Z0-9]{1,31});"
)


# HTML5 13.2.5.80 numeric-charref end state, same tables stdlib
# html.unescape uses: NUL and C1 controls remap via windows-1252,
# surrogates and >0x10FFFF become U+FFFD (chr() on a surrogate would
# produce a lone surrogate that pyarrow's UTF-8 encoder rejects — one
# hostile page would then kill the whole Arrow batch OUTSIDE extract()'s
# per-row error guard), and noncharacters/controls are dropped.
try:  # private but stable since 3.4; fall back to the spec-critical rules
    from html import _invalid_charrefs as _BAD_CHARREFS  # type: ignore
    from html import _invalid_codepoints as _DROP_CODEPOINTS  # type: ignore
except ImportError:  # pragma: no cover
    _BAD_CHARREFS = {0x00: "�"}
    _DROP_CODEPOINTS = set()


def _unescape_attr(v: str) -> str:
    def repl(m: "re.Match[str]") -> str:
        body = m.group(1)
        if body[0] == "#":
            try:
                cp = int(body[2:], 16) if body[1] in "xX" else int(body[1:])
            except ValueError:
                return m.group(0)
            if cp in _BAD_CHARREFS:
                return _BAD_CHARREFS[cp]
            if 0xD800 <= cp <= 0xDFFF or cp > 0x10FFFF:
                return "�"
            if cp in _DROP_CODEPOINTS:
                return ""
            return chr(cp)
        ent = _HTML5_ENTITIES.get(body + ";")
        return ent if ent is not None else m.group(0)

    return _ATTR_ENTITY_RX.sub(repl, v)


# Anchor BODY boundary: an <a> element ends at its close tag OR at the
# next <a open tag — HTML5 forbids nested anchors, so a browser's tree
# builder implicitly closes the current one there (13.2.6.4.7 "in body",
# the <a>-in-<a> rule). '</a' must be followed by whitespace or '>' so
# '</aside>' never terminates an anchor.
_A_END_RX = re.compile(r"</a[\s>]|<a\b", re.IGNORECASE)
_ANY_TAG_RX = re.compile(r"<[^>]*>")
_WS_RUN_RX = re.compile(r"\s+")
ANCHOR_TEXT_MAX = 200

# Chars whose presence forces the urljoin fallback: urlsplit REMOVES
# tab/CR/LF and strips C0 controls, so a concat fast path would diverge.
_CTRL_RX = re.compile(r"[\x00-\x1f\x7f]")


def _make_resolver(base_url: str):
    """href -> absolute-url resolver for one page, semantically identical
    to ``urljoin(base_url, href)`` (verified by a fuzz property test that
    compares the two), but ~6x cheaper on the two href shapes that
    dominate real pages — root-relative ('/x/y') and plain relative
    ('c.html', 'sub/p.html?q') — which resolve by string concat against a
    ONCE-parsed base. Anything the concat rules don't provably cover
    (dot segments, '//' runs, scheme-like first segments, control chars,
    query-only refs, non-http(s) bases) falls back to urljoin, and every
    result is memoized per page (nav hrefs repeat).

    The kernel profile put urljoin at ~18% of extract(); this removes
    most of it without touching resolution semantics.
    """
    from urllib.parse import urljoin, urlsplit

    try:
        sp = urlsplit(base_url)
        fast = sp.scheme in ("http", "https") and bool(sp.netloc)
    except ValueError:
        fast = False
    if fast:
        prefix = sp.scheme + "://" + sp.netloc
        path = sp.path
        base_dir = prefix + (path[: path.rfind("/") + 1]
                             if "/" in path else "/")
    cache: dict[str, str | None] = {}

    def resolve(raw: str) -> str | None:
        if raw in cache:
            return cache[raw]
        res: str | None
        # dot-segment/'//' normalization applies to the PATH part only —
        # query and fragment pass through urljoin verbatim
        pathpart = raw.split("#", 1)[0].split("?", 1)[0]
        if (
            fast
            # urlsplit STRIPS edge spaces (interior ones survive both paths)
            and raw[0] not in "?# "
            # trailing empty query/frag is dropped by urljoin
            and raw[-1] not in "?# "
            # ';' engages urlparse's params machinery (';' alone keeps the
            # base's last segment; a trailing empty ';p' can be dropped) —
            # semicolon hrefs are rare, route them all to urljoin
            and ";" not in raw
            # empty query before a fragment: urljoin drops the lone '?'
            # ('page?#frag' -> .../page#frag) but concat would keep it
            and "?#" not in raw
            and "//" not in pathpart
            and "./" not in pathpart
            and pathpart not in (".", "..")
            and not pathpart.endswith(("/.", "/.."))
            and ":" not in pathpart.split("/", 1)[0]
            and not _CTRL_RX.search(raw)
        ):
            res = prefix + raw if raw[0] == "/" else base_dir + raw
        else:
            try:
                res = urljoin(base_url, raw)
            except ValueError:
                res = None
        cache[raw] = res
        return res

    return resolve


def extract_links(base_url: str, page: str,
                  stripped: str | None = None) -> list[tuple[str, str]]:
    """Fetchable anchor targets WITH their anchor text, in document
    order. Hrefs are entity-decoded under the HTML5 ATTRIBUTE rule (only
    ';'-terminated references — '&amp;' decodes, '&copy=2' stays
    literal) and resolved against the page url (RFC 3986 via urljoin):
    absolute http(s) kept, protocol-relative and path-relative resolved,
    fragment-only and non-fetchable schemes (javascript/mailto/tel/data/
    about) skipped. Anchors inside comments, CDATA and script/style
    bodies are never links. Duplicates are kept — positions matter to
    consumers; dedup is the downstream operator's job.

    Anchor TEXT is what a browser would render inside the element:
    the body up to the close tag (or the next <a>, which implicitly
    closes — anchors cannot nest), inner markup stripped, entities
    decoded under the TEXT rule (html.unescape: legacy non-';' named
    refs decode here, unlike in attribute values; stdlib maps numeric
    surrogates/overflow to U+FFFD so the output stays Arrow-safe),
    whitespace collapsed, capped at ANCHOR_TEXT_MAX chars. Anchor text
    is the classic target-ranking / retrieval signal (WAT-style link
    metadata carries it for exactly that reason).

    ``stripped`` lets a caller that already holds the comment/CDATA/
    script-stripped page (the per-document pipeline strips once and
    shares it with head_metadata) skip this function's own strip pass —
    it MUST equal ``_LINK_STRIP_RX.sub("", page)`` verbatim."""
    resolve = _make_resolver(base_url)
    if stripped is None:
        stripped = _LINK_STRIP_RX.sub("", page)
    out: list[tuple[str, str]] = []
    for m in _A_HREF_RX.finditer(stripped):
        raw = (m.group(2) or m.group(3) or m.group(4) or "").strip()
        if "&" in raw:
            raw = _unescape_attr(raw)
        if not raw or raw.startswith("#"):
            continue
        low = raw.lower()
        if low.startswith(_SKIP_SCHEMES):
            continue
        resolved = resolve(raw)
        if resolved is None:
            continue
        if not resolved.startswith(("http://", "https://")):
            continue
        text = ""
        tag_end = stripped.find(">", m.end())
        if tag_end != -1:
            nxt = _A_END_RX.search(stripped, tag_end + 1)
            body = stripped[tag_end + 1:nxt.start() if nxt else None]
            # strip tags BEFORE unescaping: entity-encoded markup
            # ('&lt;b&gt;') is text a browser renders, not a tag
            text = _WS_RUN_RX.sub(
                " ", unescape(_ANY_TAG_RX.sub(" ", body))
            ).strip()[:ANCHOR_TEXT_MAX]
        out.append((resolved, text))
    return out


# --- head metadata: <title>, rel=canonical, og:url -----------------------
# The canonical URL is the standard pre-crawl dedup signal (Google's
# rel=canonical consolidation): tracking-suffixed variants of one page all
# declare the same canonical target, so a canonical-collapse BEFORE content
# hashing removes duplicates without fetching bodies twice. Reference
# analog: the per-document header fields the reference parses from page
# one (process_fields.py) generalized to the web page's <head>.
#
# Spec bounds (documented, mirrored in the oracle fixtures):
# - rel=canonical / og:url are honored only in the head region — the page
#   up to the first <body tag (Google ignores body-declared canonicals; a
#   hostile page embedding '<link rel=canonical>' in user content must not
#   hijack dedup).
# - rel is a space-separated TOKEN LIST ('alternate canonical' counts).
# - first declaration wins (browser/Google behavior for duplicates).
# - hrefs decode under the HTML5 attribute-entity rule and resolve via
#   RFC 3986 urljoin; only http(s) results are kept.
_HEAD_BODY_RX = re.compile(r"<body[\s>]", re.IGNORECASE)
_HEAD_END_RX = re.compile(r"</head\s*>", re.IGNORECASE)
_LINK_TAG_RX = re.compile(r"<link\b[^>]*>", re.IGNORECASE)
_META_PROP_TAG_RX = re.compile(r"<meta\b[^>]*>", re.IGNORECASE)
_REL_ATTR_RX = re.compile(
    r"""(?<![-\w])rel\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""",
    re.IGNORECASE,
)
_HREF_ATTR_RX = re.compile(
    r"""(?<![-\w])href\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""",
    re.IGNORECASE,
)
_OG_URL_PROP_RX = re.compile(
    r"""(?<![-\w])(?:property|name)\s*=\s*["']?og:url\b""", re.IGNORECASE
)
_CONTENT_ATTR_RX = re.compile(
    r"""(?<![-\w])content\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""",
    re.IGNORECASE,
)
_TITLE_RX = re.compile(
    r"<title\b[^>]*>(.*?)</title[\s>]", re.IGNORECASE | re.DOTALL
)
TITLE_MAX = 512


def _resolve_head_url(base_url: str, raw: str) -> str | None:
    raw = raw.strip()
    if "&" in raw:
        raw = _unescape_attr(raw)
    if not raw or raw.startswith("#"):
        return None
    if raw.lower().startswith(_SKIP_SCHEMES):
        return None
    resolved = _make_resolver(base_url)(raw)
    if resolved is None or not resolved.startswith(("http://", "https://")):
        return None
    return resolved


def head_metadata(base_url: str, page: str,
                  stripped: str | None = None) -> dict:
    """Head-region metadata of one page: ``title`` (first <title>, text
    rule, whitespace-collapsed, TITLE_MAX cap), ``canonical_url`` (first
    <link rel~=canonical>, og:url fallback — resolved, http(s) only).
    Keys are present only when the page declares them. Comments, CDATA
    and script/style bodies are stripped FIRST and the head boundary is
    located in the stripped text — a '<body' inside a head comment or a
    document.write("<body>") script cannot truncate the head, and a
    canonical inside a comment is not a declaration. Boundary: first
    '<body' tag, else '</head>', else (tag-less fragment) the whole
    page — so a body-embedded rel=canonical cannot hijack dedup on any
    page that declares either boundary tag.

    ``stripped``, when the caller already holds it, MUST equal
    ``_LINK_STRIP_RX.sub("", page)`` verbatim (shared strip pass with
    extract_links)."""
    if stripped is None:
        stripped = _LINK_STRIP_RX.sub("", page)
    body_at = _HEAD_BODY_RX.search(stripped) or _HEAD_END_RX.search(stripped)
    head = stripped[: body_at.start()] if body_at else stripped
    out: dict = {}
    t = _TITLE_RX.search(head)
    if t:
        title = _WS_RUN_RX.sub(" ", unescape(t.group(1))).strip()[:TITLE_MAX]
        if title:
            out["title"] = title
    canonical = None
    for m in _LINK_TAG_RX.finditer(head):
        tag = m.group(0)
        rel = _REL_ATTR_RX.search(tag)
        if not rel:
            continue
        tokens = (rel.group(2) or rel.group(3) or rel.group(4) or "")
        if "canonical" not in tokens.lower().split():
            continue
        href = _HREF_ATTR_RX.search(tag)
        if href:
            canonical = _resolve_head_url(
                base_url, href.group(2) or href.group(3) or href.group(4)
                or "")
        if canonical:
            break  # first valid declaration wins
    if canonical is None:
        for m in _META_PROP_TAG_RX.finditer(head):
            tag = m.group(0)
            if not _OG_URL_PROP_RX.search(tag):
                continue
            c = _CONTENT_ATTR_RX.search(tag)
            if c:
                canonical = _resolve_head_url(
                    base_url, c.group(2) or c.group(3) or c.group(4) or "")
            if canonical:
                break
    if canonical:
        out["canonical_url"] = canonical
    return out


def extract(url: str, html: bytes, lang: str) -> dict:
    """Extract main text, fields, table cells, statuses from one page.

    Pure and deterministic; never raises — failures become an ``error``
    string (the per-document try/except fault isolation of
    ``ocr_cezam.py:67-83`` re-expressed as an error column).
    """
    try:
        return _extract_inner(url, html, lang)
    except Exception as exc:  # noqa: BLE001 — fault isolation by design
        return {
            "url": url,
            "text": "",
            "fields": {},
            "cells": [],
            "statuses": [],
            "codes": [],
            "links": [],
            "headings": [],
            "error": f"{type(exc).__name__}: {exc}"[:500],
        }


# HTML charset sniffing (WHATWG encoding-sniffing order, stdlib-only):
# BOM wins, then a declared <meta charset=...> / http-equiv content-type
# within the first 1024 bytes, then UTF-8. Per the HTML5 spec,
# iso-8859-1/ascii declarations decode as windows-1252 (their superset).
_META_TAG_RX = re.compile(rb"<meta\b[^>]*>", re.IGNORECASE)
# (?<![-\w]) guards the attribute START: data-name="robots" is a template
# attribute, not a robots directive
_ROBOTS_NAME_RX = re.compile(
    rb"""(?<![-\w])name\s*=\s*["']?robots\b""", re.IGNORECASE
)
_META_CONTENT_RX = re.compile(
    # ':' and '-' admit value-bearing directives (max-snippet:-1) so a
    # trailing noindex after them is never lost. (?<![-\w]) guards the
    # attribute START like _ROBOTS_NAME_RX: data-content="noindex" is a
    # template attribute, not the robots content
    rb"""(?<![-\w])content\s*=\s*["']?([A-Za-z0-9_,: -]*)""", re.IGNORECASE
)

# A robots meta tag may START inside the 4KB head budget but END after it
# (long head, many attributes). Let matches begin within the budget without
# truncating the tag body — same discipline as the %PDF magic-anywhere fix.
_ROBOTS_SCAN = 4096
_MAX_META_TAG = 512


def robots_directives(html: bytes) -> set[str]:
    """Directives of the first <meta name=robots> tag whose START lies in
    the head region (first 4KB), lowercased; attribute order inside the
    tag is free."""
    for m in _META_TAG_RX.finditer(html, 0, _ROBOTS_SCAN + _MAX_META_TAG):
        if m.start() >= _ROBOTS_SCAN:
            break
        tag = m.group(0)
        if _ROBOTS_NAME_RX.search(tag):
            c = _META_CONTENT_RX.search(tag)
            if not c:
                return set()
            content = c.group(1).decode("ascii", errors="replace").lower()
            return {d.strip() for d in content.split(",")}
    return set()
_META_CHARSET_RX = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9_][A-Za-z0-9._-]*)""",
    re.IGNORECASE,
)
_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "iso-8859-1": "cp1252", "iso8859-1": "cp1252", "latin-1": "cp1252",
    "latin1": "cp1252", "us-ascii": "cp1252", "ascii": "cp1252",
    "iso-8859-15": "iso-8859-15",
    "utf-16": "utf-16", "utf-16le": "utf-16-le", "utf-16be": "utf-16-be",
}


def decode_html(raw) -> str:
    """Bytes-like -> str for the DOM path. Deterministic: the same byte
    payload always yields the same text, whichever executor decodes it.

    Accepts any buffer object (bytes, memoryview, pyarrow.Buffer) and
    decodes via str(buf, codec, errors) so a zero-copy Arrow view
    converts straight to str with no intermediate bytes copy."""
    if raw[:3] == b"\xef\xbb\xbf":
        return str(raw[3:], "utf-8", "replace")
    if raw[:2] == b"\xff\xfe":
        return str(raw[2:], "utf-16-le", "replace")
    if raw[:2] == b"\xfe\xff":
        return str(raw[2:], "utf-16-be", "replace")
    m = _META_CHARSET_RX.search(raw, 0, 1024)
    if m:
        codec = _CHARSET_ALIASES.get(
            m.group(1).decode("ascii", errors="replace").lower()
        )
        if codec:
            # WHATWG prescan: a meta-DECLARED utf-16 is a lie (the tag was
            # readable as ASCII bytes, so the payload is not UTF-16) and
            # must be treated as UTF-8 — honoring it garbles the page
            if codec.startswith("utf-16"):
                codec = "utf-8"
            return str(raw, codec, "replace")
    return str(raw, "utf-8", "replace")


def _extract_inner(url: str, html: bytes, lang: str) -> dict:
    # Content-type sniff (P7 analog, releve_bancaire.py:35-42 extension
    # guard): PDF payloads take the layout-parse path (text operators from
    # the content streams), everything else the HTML DOM path. Both feed
    # the same per-kind analysis.
    # The spec (and real crawls) allow junk/BOM before the %PDF- header as
    # long as it sits within the first 1024 bytes; slice from the magic so
    # offsets inside the parser see a well-formed file.
    # Magic may START anywhere in the first 1024 bytes (junk/BOM prefixes
    # are legal) — but a '<' before it means markup: an HTML page that
    # merely MENTIONS '%PDF-' in its first 1KB must stay on the DOM path,
    # not lose its whole text to a failed content-stream parse.
    # Normalize to a zero-copy view: the Arrow path hands pa.Buffer
    # (operators/extract.py skips the to_pylist bytes materialization),
    # tests/WARC hand bytes — memoryview() is zero-copy over both.
    hv = html if isinstance(html, memoryview) else memoryview(html)
    head = bytes(hv[:1024 + len(_PDF_MAGIC) - 1])  # bounded 1KB copy
    pdf_at = head.find(_PDF_MAGIC)
    if pdf_at >= 0 and b"<" not in head[:pdf_at]:
        return _analyze(url, pdf_text(bytes(hv[pdf_at:])), [], [])
    page = decode_html(hv)
    root = _fast_parse(page)

    # 1. Main-content container scoring (boilerplate strip + P4 analog).
    candidates: list = []
    walk_memo: dict = {}
    _score_containers(root, candidates, walk_memo)
    text = ""
    if candidates:
        candidates.sort(key=lambda t: (t[0], t[1]))
        winner = candidates[-1][2]
        parts = []
        text_memo: dict = {}  # text-mode memo (tables skipped) — never
        # shared with walk_memo, whose entries include table text
        for block in _flow_blocks(winner, text_memo):
            if isinstance(block, _Node):
                if block.tag == "table":
                    continue  # tables go to the cells output, not main text
                raw = _walk_text(block, text_memo, True)[0]
                if block.tag == "pre":
                    # Preserve line structure: MRZ lines are positional
                    # (document_identite.py:254-262 reads fixed-width lines).
                    t = "\n".join(
                        n for n in (_norm(l) for l in raw.splitlines()) if n
                    )
                else:
                    t = _norm(raw)
            else:
                t = _norm(block)
            if t:
                parts.append(t)
        text = "\n".join(parts)

    # Tables -> long-format cells for every kind (the generic K3 table
    # model); per-kind analytics over those tables happen in _analyze.
    tables: list = []
    _find_tables(root, tables)
    cells: list[tuple[int, int, int, str]] = []
    table_rows: list[list[list[str]]] = []
    for t_id, table in enumerate(tables):
        rows = _table_cells(table)
        table_rows.append(rows)
        for r_id, row in enumerate(rows):
            for c_id, value in enumerate(row):
                cells.append((t_id, r_id, c_id, value))

    res = _analyze(url, text, table_rows, cells)
    # Crawl-frontier output: every fetchable anchor target on the page
    # (whole DOM, not just main content — nav links feed the frontier
    # too), document-ordered and resolved against the page url. The
    # comment/CDATA/script strip is ONE pass shared with head_metadata —
    # both consume the identical _LINK_STRIP_RX.sub("", page).
    stripped_page = _LINK_STRIP_RX.sub("", page)
    res["links"] = extract_links(url, page, stripped_page)
    heads: list = []
    _find_headings(root, heads, walk_memo)
    res["headings"] = heads
    # Robots-meta directives (crawl-pipeline signal, not in the synthetic
    # corpus): pages declaring noindex/none must be droppable downstream;
    # surfaced as a field so the job's fields table carries it without a
    # schema change. Scanned on the raw bytes — the directive sits in
    # <head>, which the content scorer deliberately ignores.
    if robots_directives(hv) & {"noindex", "none"}:
        res["fields"]["robots"] = "noindex"
    # Head metadata (title / canonical target): generic fields rows, so
    # the job's fields table carries them without a schema change — the
    # canonical-collapse dedup query groups on them downstream.
    res["fields"].update(head_metadata(url, page, stripped_page))
    return res


def _analyze(url: str, text: str,
             table_rows: list[list[list[str]]],
             cells: list[tuple[int, int, int, str]]) -> dict:
    """Doc-kind detection (J5+K8) then per-kind dispatch (J2, the
    reference's switcher dict ocr_cezam.py:35-44): each document runs
    ONLY its kind's extractors — statements get zone fields and the
    balance reconciliation, id docs get MRZ + key:value + id-number,
    tax notices get the F7 date, fiscal forms get code extraction.
    Shared by the HTML and PDF payload paths."""
    lines = _lines_of_words(text)
    kind = detect_doc_kind(text)
    fields: dict[str, str] = {"doc_kind": kind}
    statuses: list[tuple[int, str, str]] = []
    codes: list[tuple[int, str, int, str]] = []

    if kind == "statement":
        bank_id = get_bank_id(text)
        date_fmt = BANK_DATE_FORMATS.get(bank_id) if bank_id else None
        for key, value in (
            ("full_name", get_full_name(lines)),
            ("address", get_address(lines)),
            ("phone", get_phone(lines)),
            ("email", get_email(lines)),
            ("date", get_date(lines, date_fmt)),
            ("bank_id", bank_id),
        ):
            if value is not None:
                fields[key] = value
        for t_id, rows in enumerate(table_rows):
            status, detail = check_solde(rows)
            statuses.append((t_id, status, detail))
    elif kind == "id_card":
        # parse_carte_identite: 36-char MRZ, then the key:value field
        # table, then the 12-char id fallback (document_identite.py:
        # 185-201). Passports/titres de séjour get NONE of the textual
        # field scan in the reference — MRZ only.
        fields.update(decode_mrz(lines, width=36))
        for name, trigger, idx in FIELD_SPECS:
            value = get_field_after_colon(lines, trigger, idx)
            if value is not None:
                fields[name] = value
        id_number = get_id_number(lines)
        if id_number is not None:
            fields["id_number"] = id_number
    elif kind in ("passport", "residence_permit"):
        # parse_passeport / parse_titre_sejour: identical 44-char MRZ
        # decode (document_identite.py:173-183).
        fields.update(decode_mrz(lines, width=44))
    elif kind == "tax_notice":
        tax_date = get_tax_date(lines)
        if tax_date is not None:
            fields["tax_date"] = tax_date
    elif kind == "fiscal":
        for t_id, rows in enumerate(table_rows):
            for code, pos, value in extract_fiscal_codes(rows[1:] if rows else []):
                codes.append((t_id, code, pos, value))

    return {
        "url": url,
        "text": text,
        "fields": fields,
        "cells": cells,
        "statuses": statuses,
        "codes": codes,
        "links": [],  # HTML path fills this after _analyze; PDF has none
        "headings": [],  # HTML path fills this after _analyze too
        "error": None,
    }
