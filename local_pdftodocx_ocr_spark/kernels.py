"""Pure deterministic per-document operator kernels.

These functions are the semantic rebuild of the reference's extraction
operators (SURVEY.md §2; reference citations inline). They contain NO
Spark imports: the same code runs

  * inside the Arrow-batched ``mapInArrow`` extraction UDF (job.py), and
  * sequentially on the driver as the test oracle (oracle.py),

so span-sequence equality ``(kind, text, media_ref, offset)`` between the
distributed job and the oracle holds by construction, and every kernel is
unit-testable without a SparkSession.

Determinism rules: no wall clock, no RNG, no dict-order dependence beyond
CPython's insertion order, difflib only (stable across versions).
"""

from __future__ import annotations

import base64
import codecs
import difflib
import hashlib
import os
import re
import unicodedata
from collections import Counter
from functools import lru_cache
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# Geometry / constants
# --------------------------------------------------------------------------

# Synthetic page coordinate space (FIXTURES.md: position header "p=..;y=..;x=..|").
PAGE_W = 1000.0
PAGE_H = 1000.0

# Column split: simplified from the reference's `_sort_reading_order`
# (src/pipeline.py:402-422, which splits at mid-page x); here the split
# is at the largest inter-block x gap when it exceeds 10% page width —
# an intentional generalization for synthetic geometry.
COLUMN_GAP_FRAC = 0.10

# Footer band: inspired by `_drop_repeating_footer_noise`
# (src/pipeline.py:1551-1586); the reference uses 0.88 with
# Thai-content protection — 0.75 is a deliberate wider band for the
# synthetic 1000x1000 page space.
FOOTER_BAND_Y = 0.75 * PAGE_H

# Near-dup window: simplified from `_dedup_page_text_blocks`
# (src/pipeline.py:518-560) — the reference also gates on y-proximity
# and uses containment min length 18; this rebuild intentionally drops
# the y gate and uses 12 (synthetic docs have coarser geometry).
DEDUP_LOOKBACK = 12
NEARDUP_RATIO = 0.90          # difflib ratio gate (src/pipeline.py:489-490)
NEARDUP_PREFIX = 80           # chars compared (src/pipeline.py:487-489)
CONTAINMENT_FRAC = 0.55       # containment gate (src/pipeline.py:479-484; ref min len 18, here 12)

# Embedded-text reliability gate (reference `_embedded_text_reliable`,
# src/pipeline.py:227-266): letter ratio + replacement-char ratio.
RELIABLE_MIN_LETTER_RATIO = 0.25
RELIABLE_MAX_REPLACEMENT_RATIO = 0.05

# Figure validity minimums (reference image-extraction gates,
# src/exporter.py:186-190 min 40x40/2000px²; graphic-recovery floor
# src/layout_detector.py:459-460) in the 1000x1000 fixture space.
FIG_MIN_SIDE = 40.0
FIG_MIN_AREA = 2000.0

# Boilerplate scorer thresholds (jusText/Boilerpipe-style, SURVEY.md §2.10;
# published heuristics: Kohlschütter WSDM'10, Pomikálek 2011).
BOILER_MIN_TEXT_LEN = 25
BOILER_MAX_LINK_DENSITY = 0.33

POS_HEADER_RE = re.compile(
    r"^p=(\d+);y=([0-9.]+);x=([0-9.]+)(?:;w=([0-9.]+);h=([0-9.]+))?\|")

# --------------------------------------------------------------------------
# Text cleaning (reference `clean_text`, src/pipeline.py:352-396)
# --------------------------------------------------------------------------

_ZERO_WIDTH_RE = re.compile("[​‌‍⁠﻿]")
_CONTROL_RE = re.compile("[\x00-\x08\x0b-\x1f\x7f]")  # incl \r; keeps \t \n
# translate() table equivalent of _CONTROL_RE.sub("", s): deleting a
# fixed single-char class is the same operation, and str.translate runs
# it as one C pass (the sub ran on EVERY span text — r7 kernel profile)
_CONTROL_DEL = {c: None for c in (*range(0x00, 0x09),
                                  *range(0x0B, 0x20), 0x7F)}
_THAI_DIGITS = str.maketrans("๐๑๒๓๔๕๖๗๘๙", "0123456789")
_SARA_AM_RE = re.compile("ํา")          # nikhahit + sara aa -> sara am
_DUP_COMBINING_RE = re.compile(r"([ัิ-ฺ็-๎])\1+")
_WS_RE = re.compile(r"[ \t]+")
_THAI_GAP_RE = re.compile(r"(?<=[ก-๎]) +(?=[ก-๎])")
_JUNK_LINE_RE = re.compile(r"^[\W_]+$", re.UNICODE)  # punctuation/symbol soup
_HALLUCINATION_RE = re.compile(r"^(?:[|/\\\-_~`^¤°·.…]{2,}|[il1|]{4,})$")


def clean_text(s: str) -> str:
    """Normalize + scrub one text payload.

    Semantics rebuilt from the reference's `clean_text`
    (src/pipeline.py:352-396) and Thai helpers (src/pipeline.py:208-224):
    NFC, zero-width/control strip, Thai->Arabic digits, sara-am recompose,
    duplicate-combining-mark collapse, junk/hallucination line drop, Thai
    no-space join, whitespace collapse, blank-run collapse.
    """
    if not s:
        return ""
    is_ascii = s.isascii()
    if not is_ascii:
        # all five passes below are provable no-ops on pure-ASCII input,
        # so the fast path skips them (NFC is identity on ASCII too)
        s = unicodedata.normalize("NFC", s)
        s = _ZERO_WIDTH_RE.sub("", s)
        s = s.translate(_THAI_DIGITS)
        s = s.replace("เเ", "แ")  # เเ -> แ
        s = _SARA_AM_RE.sub("ำ", s)
        s = _DUP_COMBINING_RE.sub(r"\1", s)
    s = s.translate(_CONTROL_DEL)   # == _CONTROL_RE.sub("", s), one C pass

    out_lines: list[str] = []
    for ln in s.split("\n"):
        if "\t" in ln or "  " in ln:
            # runs/tabs present: collapse them (the regex is a no-op on
            # single-spaced text, so it is skipped there)
            ln = _WS_RE.sub(" ", ln).strip()
        elif " " in ln:
            ln = ln.strip()
        if not ln:
            out_lines.append("")
            continue
        if _JUNK_LINE_RE.match(ln) or _HALLUCINATION_RE.match(ln):
            continue
        if not is_ascii:
            ln = _THAI_GAP_RE.sub("", ln)
        out_lines.append(ln)

    # collapse runs of blank lines to a single blank line
    collapsed: list[str] = []
    for ln in out_lines:
        if ln == "" and collapsed and collapsed[-1] == "":
            continue
        collapsed.append(ln)
    return "\n".join(collapsed).strip()


# ASCII bytes that satisfy (isalpha or isdigit) — for pure-ASCII text
# the letter count is one C-level bytes.translate delete instead of a
# per-char Python generator (the single hottest kernel line in the r7
# profile: ~0.5 s of the 1.24 s corpus pass)
_ASCII_ALNUM = bytes(i for i in range(128)
                     if chr(i).isalpha() or chr(i).isdigit())


def letter_ratio(s: str) -> float:
    if not s:
        return 0.0
    if s.isascii():
        b = s.encode("ascii")
        letters = len(b) - len(b.translate(None, _ASCII_ALNUM))
    else:
        letters = sum(1 for c in s if c.isalpha() or c.isdigit())
    return letters / len(s)


def is_reliable_text(s: str) -> bool:
    """Embedded-text reliability gate (src/pipeline.py:227-266)."""
    if not s or not s.strip():
        return False
    repl = s.count("�") / len(s)
    if repl > RELIABLE_MAX_REPLACEMENT_RATIO:
        return False
    return letter_ratio(s) >= RELIABLE_MIN_LETTER_RATIO


def looks_weak_text(s: str) -> bool:
    """P4 weak-text predicate (simplified from `_looks_weak_thai`,
    src/pipeline.py:632-647, letter-generalized): empty/tiny text, a
    bare section stub, or a text whose letter content is thin relative
    to its length. Gates the media-backup re-recognize branch — a weak
    text layer WITH a backup gets re-recognized even when it passes the
    basic reliability gate."""
    t = (s or "").strip()
    if len(t) < 8:
        return True
    if _SECTION_STUB_RE.match(t):
        return True
    letters = sum(1 for c in t if c.isalpha())
    return letters < max(4, len(t) // 5)


# --------------------------------------------------------------------------
# Recognize (batched "OCR" — reference `_run_thai_trocr` batch shape,
# src/ocr_engine.py:976-1105; sandbox model = deterministic reversible codec)
# --------------------------------------------------------------------------


_THAI_ANY_RE = re.compile("[ก-๎]")


def encode_media(text: str) -> str:
    """Produce a media_ref whose payload deterministically 'recognizes'
    back to *text* (FIXTURES.md §1: reversible encodings). Two schemes
    model the reference's script-routed engines (`_build_cascade`,
    src/ocr_engine.py:773-815): Thai-bearing payloads go to the
    'memt:' engine (byte-reversal codec, the TrOCR slot), others to
    'mem:' (rot13, the Paddle slot)."""
    if _THAI_ANY_RE.search(text):
        payload = base64.b64encode(text.encode("utf-8")[::-1]).decode("ascii")
        return "memt:" + payload
    payload = base64.b64encode(codecs.encode(text, "rot13").encode("utf-8")).decode("ascii")
    return "mem:" + payload


# Model-cost simulation knob (bench only; default off). The sandbox
# codec is ~10^5x lighter than the reference's TrOCR generate step
# (~10 s/page, BASELINE.md); setting this burns a deterministic,
# payload-dependent amount of CPU per recognize call WITHOUT changing
# any output, so scaling measurements can be taken at a realistic
# compute density. Read once at import: propagates to Spark Python
# workers via the inherited environment.
MODEL_COST_ITERS = int(os.environ.get("SPARK_EXTRACT_MODEL_COST_ITERS", "0"))


def recognize_one(media_ref: str) -> str:
    """Engine-routed recognize: the ref scheme selects the decoder —
    the strict no-fallback policy of the reference's engine dispatch
    (explicit engine runs alone, src/ocr_engine.py:797-815)."""
    if not media_ref:
        return ""
    if media_ref.startswith("memt:"):
        try:
            raw = base64.b64decode(media_ref[5:].encode("ascii"))[::-1].decode("utf-8")
        except Exception:
            return ""
        if MODEL_COST_ITERS:
            h = raw.encode("utf-8")
            for _ in range(MODEL_COST_ITERS):
                h = hashlib.blake2b(h, digest_size=32).digest()
        return raw
    if not media_ref.startswith("mem:"):
        return ""
    try:
        raw = base64.b64decode(media_ref[4:].encode("ascii")).decode("utf-8")
    except Exception:
        return ""
    if MODEL_COST_ITERS:
        h = raw.encode("utf-8")
        for _ in range(MODEL_COST_ITERS):
            h = hashlib.blake2b(h, digest_size=32).digest()
    return codecs.decode(raw, "rot13")


def recognize_batch(media_refs: list[str]) -> list[str]:
    """Batched recognize: one call per Arrow batch, mirroring the
    reference's TrOCR batch-generate (src/ocr_engine.py:899-954)."""
    return [recognize_one(r) for r in media_refs]


# --------------------------------------------------------------------------
# HTML boilerplate strip (north-rule addition; SURVEY.md §2.10)
# --------------------------------------------------------------------------

_FURNITURE_RE = re.compile(
    r"<(nav|footer|header|aside|script|style)\b[^>]*>.*?</\1>",
    re.IGNORECASE | re.DOTALL,
)
_BLOCK_RE = re.compile(
    r"<(p|h[1-6]|li|div|td|blockquote)\b[^>]*>(.*?)</\1>",
    re.IGNORECASE | re.DOTALL,
)
_ANCHOR_RE = re.compile(r"<a\b[^>]*>(.*?)</a>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")


def _strip_tags(markup: str) -> str:
    return _WS_RE.sub(" ", _TAG_RE.sub(" ", markup)).strip()


def strip_boilerplate_html(html: str) -> str:
    """jusText/Boilerpipe-style main-content extraction.

    Segment the fragment into blocks, score each by text length and
    link density, apply one smoothing pass (a short block between two
    kept blocks is kept). Published algorithm family (Kohlschütter et
    al., WSDM'10; Pomikálek, 2011); no reference implementation exists
    (the reference only emits HTML, src/exporter.py:505-519).
    """
    if not html:
        return ""
    html = _FURNITURE_RE.sub(" ", html)
    blocks: list[tuple[str, float]] = []  # (text, link_density)
    for m in _BLOCK_RE.finditer(html):
        inner = m.group(2)
        # nested block tags: keep leaf-most content only (skip if the
        # inner markup itself contains another block tag)
        if _BLOCK_RE.search(inner):
            continue
        anchor_len = sum(len(_strip_tags(a.group(1))) for a in _ANCHOR_RE.finditer(inner))
        text = _strip_tags(inner)
        if not text:
            continue
        link_density = anchor_len / max(1, len(text))
        blocks.append((text, link_density))
    if not blocks:
        text = _strip_tags(html)
        return text if len(text) >= BOILER_MIN_TEXT_LEN else ""

    keep = [
        len(t) >= BOILER_MIN_TEXT_LEN and ld <= BOILER_MAX_LINK_DENSITY
        for t, ld in blocks
    ]
    # context smoothing: short low-link block flanked by kept blocks
    smoothed = list(keep)
    for i in range(1, len(blocks) - 1):
        if not keep[i] and blocks[i][1] <= BOILER_MAX_LINK_DENSITY:
            if keep[i - 1] and keep[i + 1]:
                smoothed[i] = True
    kept = [blocks[i][0] for i in range(len(blocks)) if smoothed[i]]
    return "\n".join(kept)


# --------------------------------------------------------------------------
# Cell/garble predicates (P5/P6 at full strength — simplified from
# src/docling_adapter.py:256-362; Thai-specific brand lists and RapidOCR
# token tables are replaced by the structural rules)
# --------------------------------------------------------------------------


def _thai_count(s: str) -> int:
    return len(_THAI_ANY_RE.findall(s or ""))


def _ascii_letter_count(s: str) -> int:
    return sum(1 for ch in s if ("A" <= ch <= "Z") or ("a" <= ch <= "z"))


def looks_like_healthy_latin(text: str) -> bool:
    """Real space-separated English / product names, as opposed to OCR
    consonant soup (simplified from src/docling_adapter.py:264-292: the
    vowel-ratio + word-break structure rules, without the brand list)."""
    t = (text or "").strip()
    if not t:
        return False
    letters = _ascii_letter_count(t)
    if letters < 2:
        return False
    vowels = sum(1 for ch in t if ch.lower() in "aeiou")
    spaces = t.count(" ") + t.count("\n") + t.count("\t")
    upper = sum(1 for ch in t if "A" <= ch <= "Z")
    if vowels >= max(1, letters // 8) and (spaces >= 1 or letters <= 24):
        if upper / max(letters, 1) < 0.85 or spaces >= 2:
            return True
    # short mixed-case labels with a lowercase letter ("VMware", "pc-01")
    if letters <= 40 and re.search(r"[a-z]", t):
        return True
    # ALLCAPS brand 2-8 letters with a vowel (ESET-style)
    if 2 <= letters <= 8 and vowels >= 1 and spaces == 0 and upper == letters:
        return True
    return False


def plausible_table_cell(text: str) -> bool:
    """P6: reject blank-crop hallucinations / OCR soup in table cells
    (simplified from `_plausible_table_cell`, src/docling_adapter.py:
    295-319): repeated-char residue and Latin-soup-with-thin-Thai are
    dropped; digits, real Thai (>=2 chars), short digit-bearing labels
    and healthy Latin are kept."""
    t = (text or "").strip()
    if not t:
        return False
    compact = _WS_RE.sub("", t)
    if len(compact) >= 4 and len(set(compact)) <= 2:
        return False          # "----" / "กากา" residue
    if looks_like_healthy_latin(t):
        return True
    letters = _ascii_letter_count(t)
    thai = _thai_count(t)
    if letters > 6 and letters > thai * 1.5:
        return False          # Latin soup with thin Thai
    if compact.replace(".", "").replace(",", "").isdigit():
        return True
    if thai >= 2:
        return True
    if len(compact) <= 6 and any(ch.isdigit() for ch in compact):
        return True
    return False


def looks_garbled_for_thai(text: str) -> bool:
    """P5: OCR-on-Thai Latin gibberish — ALLCAPS consonant soup with no
    usable Thai (simplified from `_looks_garbled_for_thai`,
    src/docling_adapter.py:322-362, minus the hallucination token list).
    Applied only to recognize (OCR-path) outputs, never embedded text."""
    t = (text or "").strip()
    if not t:
        return False
    thai = _thai_count(t)
    if thai >= 3 and thai / max(len(t), 1) >= 0.15:
        return False          # usable Thai present
    if looks_like_healthy_latin(t):
        return False
    letters = _ascii_letter_count(t)
    if letters < 6:
        return False
    if thai == 0:
        # a single unbroken ALLCAPS alpha run of >=16 chars is OCR soup
        # regardless of vowel content (no real acronym is that long;
        # stands in for the reference's garbage-token blacklist)
        for tok in t.split():
            if len(tok) >= 16 and tok.isalpha() and tok.isupper():
                return True
        upper = sum(1 for ch in t if "A" <= ch <= "Z")
        vowels = sum(1 for ch in t if ch.lower() in "aeiou")
        if upper >= letters * 0.75 and vowels <= max(1, letters // 6):
            return True
    return False


# --------------------------------------------------------------------------
# Table canonical flatten (reference plain-form grid,
# src/layout_detector.py:829-833; duplicate-column collapse
# src/docling_adapter.py:791-805, 847-862)
# --------------------------------------------------------------------------


def flatten_table(text: str) -> str:
    rows = [r for r in text.split("\n") if r.strip()]
    grid = [[clean_text(c) for c in r.split("\t")] for r in rows]
    if not grid:
        return ""
    ncols = max(len(r) for r in grid)
    grid = [r + [""] * (ncols - len(r)) for r in grid]
    # drop fully-empty columns
    keep_cols = [j for j in range(ncols) if any(r[j] for r in grid)]
    grid = [[r[j] for j in keep_cols] for r in grid]
    # collapse adjacent duplicate-identical columns (D4)
    if grid and grid[0]:
        ncols = len(grid[0])
        keep2 = [0]
        for j in range(1, ncols):
            if all(r[j] == r[j - 1] for r in grid):
                continue
            keep2.append(j)
        grid = [[r[j] for j in keep2] for r in grid]
    # drop fully-empty rows; trim trailing empty cells per row (canonical form)
    grid = [r for r in grid if any(c for c in r)]
    out_rows = []
    for r in grid:
        while r and r[-1] == "":
            r = r[:-1]
        out_rows.append("\t".join(r))
    return "\n".join(out_rows)


# --------------------------------------------------------------------------
# Table GRID extraction (M8/M9 — rebuilt from the reference's Docling
# grid re-OCR: cell spans + coverage map src/docling_adapter.py:1255-1337,
# sibling-geometry empty-slot fill :1339-1382, duplicate-column collapse
# :847-861, spanned flatten `_cells_to_spanned_html` :1165-1203, grid
# size guard src/layout_detector.py:777-781).
#
# Payload form (FIXTURES.md): body = "grid:R,C" header line, then one
# cell per line "r0,c0[,r1,c1]|text" (end indices exclusive; omitted ->
# 1x1). The span's media_ref, when present, is the sibling-geometry
# re-OCR seam: its recognized payload carries "r,c|text" lines offering
# recovered text for UNCOVERED slots only (the sandbox recognize codec
# stands in for the per-cell TrOCR call).
# --------------------------------------------------------------------------

_GRID_HDR_RE = re.compile(r"^grid:(\d{1,3}),(\d{1,3})$")
GRID_MAX_ROWS = 100           # src/layout_detector.py:778 size guard
GRID_MAX_COLS = 50


def parse_grid_table(body: str):
    """Parse a grid-table payload -> (num_rows, num_cols, entries) where
    entries are [r0, c0, r1, c1, text]; None if not a grid payload (the
    caller falls back to the plain tab-grid flatten)."""
    lines = (body or "").split("\n")
    m = _GRID_HDR_RE.match(lines[0].strip()) if lines else None
    if not m:
        return None
    num_rows, num_cols = int(m.group(1)), int(m.group(2))
    entries: list[list] = []
    for ln in lines[1:]:
        head, sep, text = ln.partition("|")
        if not sep:
            continue
        parts = head.split(",")
        try:
            if len(parts) == 2:
                r0, c0 = int(parts[0]), int(parts[1])
                r1, c1 = r0 + 1, c0 + 1
            elif len(parts) == 4:
                r0, c0, r1, c1 = (int(p) for p in parts)
            else:
                continue
        except ValueError:
            continue
        entries.append([r0, c0, r1, c1, text])
    return num_rows, num_cols, entries


def grid_table_text(num_rows: int, num_cols: int, entries: list,
                    fill_payload: str = "") -> str:
    """Grid -> canonical plain text: clamp spans, validate cells, fill
    uncovered slots from the media backup, collapse duplicate leading
    columns (3->2), then the spanned-occupancy row walk."""
    if num_rows <= 0 or num_cols <= 0:
        return ""
    if num_rows > GRID_MAX_ROWS or num_cols > GRID_MAX_COLS:
        return ""             # size guard: oversized grids are quarantined
    covered = [[False] * num_cols for _ in range(num_rows)]
    norm: list[list] = []
    for r0, c0, r1, c1, text in entries:
        if r0 < 0 or c0 < 0 or r0 >= num_rows or c0 >= num_cols:
            continue
        r1 = min(max(r1, r0 + 1), num_rows)
        c1 = min(max(c1, c0 + 1), num_cols)
        t = clean_text(" ".join((text or "").split()))
        if t:
            compact = _WS_RE.sub("", t)
            # digit-seed exception: pure 1-6 digit cells always survive
            # (src/docling_adapter.py:1326-1330)
            if not plausible_table_cell(t) and not (
                    compact.isdigit() and 1 <= len(compact) <= 6):
                t = ""
        norm.append([r0, c0, r1, c1, t])
        for rr in range(r0, r1):
            for cc in range(c0, c1):
                covered[rr][cc] = True

    # empty-slot fill: accepted only for UNCOVERED slots, and only when
    # substantial (>=4 Thai chars, a digit, or healthy Latin — the
    # reference's fill accept rule, src/docling_adapter.py:1370-1377)
    fills: dict[tuple[int, int], str] = {}
    for ln in (fill_payload or "").split("\n"):
        head, sep, t = ln.partition("|")
        if not sep:
            continue
        try:
            r_s, c_s = head.split(",")
            fills[(int(r_s), int(c_s))] = t
        except ValueError:
            continue
    for r in range(num_rows):
        for c in range(num_cols):
            if covered[r][c] or (r, c) not in fills:
                continue
            got = clean_text(" ".join(fills[(r, c)].split()))
            if not got or not plausible_table_cell(got):
                continue
            digits = sum(1 for ch in got if ch.isdigit())
            if (_thai_count(got) < 4 and digits < 1
                    and not looks_like_healthy_latin(got)):
                continue
            norm.append([r, c, r + 1, c + 1, got])
            covered[r][c] = True

    # duplicate leading-column collapse, 3->2 only (the reference's
    # Docling-specific rule, src/docling_adapter.py:847-861)
    if num_cols == 3 and num_rows > 0:
        grid = [[""] * 3 for _ in range(num_rows)]
        for r0, c0, r1, c1, t in norm:
            for rr in range(r0, r1):
                for cc in range(c0, c1):
                    grid[rr][cc] = t
        if (all(row[0] == row[1] for row in grid)
                and any(row[0] for row in grid)):
            seen: set[tuple[int, int]] = set()
            merged: list[list] = []
            for r0, c0, r1, c1, t in norm:
                nc0 = 0 if c0 <= 1 else c0 - 1
                nc1 = max(c1 - 1, nc0 + 1)
                if (r0, nc0) in seen:
                    continue
                seen.add((r0, nc0))
                merged.append([r0, nc0, r1, nc1, t])
            norm = merged
            num_cols = 2

    # spanned flatten: anchor text once per span, covered continuations
    # consume no output cell (plain-rows walk of _cells_to_spanned_html)
    occupied = [[False] * num_cols for _ in range(num_rows)]
    meta: dict[tuple[int, int], tuple[int, int, str]] = {}
    for r0, c0, r1, c1, t in norm:
        meta[(r0, c0)] = (r1 - r0, c1 - c0, t)
        for rr in range(r0, r1):
            for cc in range(c0, c1):
                occupied[rr][cc] = True
    out_rows: list[str] = []
    for r in range(num_rows):
        plain: list[str] = []
        c = 0
        while c < num_cols:
            if (r, c) in meta:
                _, cs, t = meta[(r, c)]
                plain.append(t)
                c += cs
            elif occupied[r][c]:
                c += 1
            else:
                plain.append("")
                c += 1
        while plain and plain[-1] == "":
            plain.pop()
        if any(plain):
            out_rows.append("\t".join(plain))
    return "\n".join(out_rows)


# --------------------------------------------------------------------------
# Segment -> line clustering (W3 — rebuilt from `_segments_to_lines`,
# src/pipeline.py:133-202: y-center overlap clustering at 0.6 x line
# height, left-to-right within a line, Thai-aware join). The sandbox's
# "multi-segment recognize output" is a media payload whose decoded text
# is "segs:" followed by "x,y0,y1|text" lines.
# --------------------------------------------------------------------------

SEGS_PREFIX = "segs:\n"


def encode_media_segments(segments: list[tuple[float, float, float, str]]) -> str:
    """(x, y0, y1, text) segments -> a media_ref whose recognized payload
    is the multi-segment form (FIXTURES.md; deterministic codec)."""
    body = SEGS_PREFIX + "\n".join(
        f"{x:.1f},{y0:.1f},{y1:.1f}|{t}" for x, y0, y1, t in segments)
    return encode_media(body)


def parse_segments_payload(raw: str):
    """Decoded recognize payload -> segment tuples, or None if the
    payload is not segmented (plain whole-text recognize)."""
    if not raw or not raw.startswith(SEGS_PREFIX):
        return None
    segs: list[tuple[float, float, float, str]] = []
    for ln in raw[len(SEGS_PREFIX):].split("\n"):
        head, sep, t = ln.partition("|")
        if not sep:
            continue
        try:
            x_s, y0_s, y1_s = head.split(",")
            segs.append((float(x_s), float(y0_s), float(y1_s), t))
        except ValueError:
            continue
    return segs


def _cluster_lines(segs: list[tuple[float, float, float, str]]) -> list[dict]:
    """Cluster segments into visual lines: sort by (y-center, x), grow a
    cluster while |cy - first.cy| <= 0.6 x max(line heights), then join
    each line left-to-right with the Thai-aware join and clean it.
    Returns line dicts with the union bbox (the reference's line shape,
    src/pipeline.py:165-191)."""
    entries = []
    for x, y0, y1, t in segs:
        t = (t or "").strip()
        if not t:
            continue
        entries.append(((y0 + y1) / 2.0, x, y1 - y0, y0, y1, t))
    if not entries:
        return []
    entries.sort(key=lambda e: (e[0], e[1]))
    lines: list[dict] = []

    def _flush(items) -> None:
        items.sort(key=lambda e: e[1])
        joined = ""
        for it in items:
            joined = join_text_blocks(joined, it[5])
        t = clean_text(joined)
        if t:
            lines.append({
                "text": t,
                "x0": min(it[1] for it in items),
                "y0": min(it[3] for it in items),
                "y1": max(it[4] for it in items),
            })

    cluster = [entries[0]]
    for e in entries[1:]:
        ref = cluster[0]
        tol = max(ref[2], e[2]) * 0.6
        if abs(e[0] - ref[0]) <= tol:
            cluster.append(e)
        else:
            _flush(cluster)
            cluster = [e]
    _flush(cluster)
    return lines


def segments_to_lines(segs: list[tuple[float, float, float, str]]) -> list[str]:
    return [ln["text"] for ln in _cluster_lines(segs)]


# Page segmentation (M1/M3 analog): a full-page recognize payload is
# segmented into text BLOCKS — lines first (W3), then consecutive lines
# group into a block while the vertical gap stays under
# BLOCK_GAP_FACTOR x the median line height (the structural analog of
# the reference's dilate-and-contour text-region detection,
# `_detect_opencv_fallback`, src/layout_detector.py:350-396; no raster
# in the sandbox, so geometry stands in for ink).
BLOCK_GAP_FACTOR = 1.5


def segment_page_blocks(segs) -> list[tuple[float, float, str]]:
    """Loose full-page segments -> [(y, x, block_text)] in reading
    order. Deterministic: median = lower-middle of the sorted heights."""
    lines = _cluster_lines(segs)
    if not lines:
        return []
    heights = sorted(ln["y1"] - ln["y0"] for ln in lines)
    med_h = max(heights[len(heights) // 2], 1.0)
    blocks: list[tuple[float, float, str]] = []
    cur = [lines[0]]
    for ln in lines[1:]:
        if ln["y0"] - cur[-1]["y1"] > BLOCK_GAP_FACTOR * med_h:
            blocks.append((min(c["y0"] for c in cur), min(c["x0"] for c in cur),
                           "\n".join(c["text"] for c in cur)))
            cur = [ln]
        else:
            cur.append(ln)
    blocks.append((min(c["y0"] for c in cur), min(c["x0"] for c in cur),
                   "\n".join(c["text"] for c in cur)))
    return blocks


def reclassify_figure_segments(segs) -> str:
    """M4 figure->table reclassify, structural form (rebuilt from
    `_reclassify_figures_as_tables`, src/layout_detector.py:290-346:
    grid/h-rule density tests on the raster; here: does the recognized
    content actually FORM a grid — >=2 rows and a row with >=2 aligned
    columns). Returns the table text when it does, else ''."""
    grid = items_to_table(segs)
    if not grid:
        return ""
    rows = grid.split("\n")
    if len(rows) >= 2 and any(len(r.split("\t")) >= 2 for r in rows):
        return grid
    return ""


# --------------------------------------------------------------------------
# Gridless table clustering (W5 — rebuilt from `_items_to_table`,
# src/layout_detector.py:955-1039: loose positioned OCR items are
# clustered into rows by y-center at max(15, 2% page height), ordered
# left-to-right within a row, and padded to the widest row). Input is
# the same multi-segment payload shape as W3, attached to a `table`
# span with an empty body.
# --------------------------------------------------------------------------


def items_to_table(segs: list[tuple[float, float, float, str]]) -> str:
    entries = []
    for x, y0, y1, t in segs:
        t = (t or "").strip()
        if t:
            entries.append(((y0 + y1) / 2.0, x, t))
    if not entries:
        return ""
    entries.sort(key=lambda e: (e[0], e[1]))
    thr = max(15.0, 0.02 * PAGE_H)
    rows: list[list] = []
    cur = [entries[0]]
    for e in entries[1:]:
        if abs(e[0] - cur[0][0]) < thr:
            cur.append(e)
        else:
            rows.append(sorted(cur, key=lambda it: it[1]))
            cur = [e]
    rows.append(sorted(cur, key=lambda it: it[1]))
    max_cols = max(len(r) for r in rows)
    out = []
    for r in rows:
        cells = [clean_text(" ".join(t.split())) for (_, _, t) in r]
        cells += [""] * (max_cols - len(r))
        out.append("\t".join(cells))
    return "\n".join(out)


# --------------------------------------------------------------------------
# Block model + per-document pipeline
# --------------------------------------------------------------------------


@dataclass(slots=True)
class Block:
    kind: str          # 'text' | 'table' | 'figure'
    page: int
    y: float
    x: float
    text: str
    media_ref: str = ""
    src_offset: int = 0
    src_kind: str = ""
    norm_key: str = field(default="", repr=False)
    seq: int = 0            # global source position (chunked-path ordering)
    cnt: dict | None = field(default=None, repr=False, compare=False)
    w: float = 0.0          # optional bbox extent (0 = point-positioned)
    h: float = 0.0


_NORM_KEY_RE = re.compile(r"[\W_]+", re.UNICODE)


@lru_cache(maxsize=4096)
def text_norm_key(s: str) -> str:
    """Whitespace/punct-normalized dedup key
    (reference `_text_norm_key`, src/pipeline.py:453-455). Pure; the
    LRU cache pays off because repeated texts (footers, headers, stub
    markers) are exactly what the dedup passes re-key per page."""
    return _NORM_KEY_RE.sub("", s).lower()


def parse_pos_header(text: str) -> tuple[int, float, float, float, float, str]:
    """Strip the synthetic geometry header ``p=<page>;y=<y>;x=<x>|``
    (FIXTURES.md §1), optionally extended with a bbox extent
    ``;w=<w>;h=<h>`` (enables the structure-suppression / top-k-prune /
    paragraph-merge operators). Headerless spans land on page 0 ordered
    by their source offset. Returns (page, y, x, w, h, body)."""
    # cheap gate before the regex: any match starts with the literal
    # "p=" (the pattern is anchored), so headerless spans skip the
    # regex engine entirely
    if not text or not text.startswith("p="):
        return 0, -1.0, -1.0, 0.0, 0.0, text or ""
    m = POS_HEADER_RE.match(text)
    if not m:
        return 0, -1.0, -1.0, 0.0, 0.0, text
    w = float(m.group(4)) if m.group(4) else 0.0
    h = float(m.group(5)) if m.group(5) else 0.0
    return int(m.group(1)), float(m.group(2)), float(m.group(3)), w, h, text[m.end():]


_PAGE_NUM_RE = re.compile(r"^(page\s+\d+(\s+of\s+\d+)?|-?\s*\d{1,3}\s*-?|หน้า\s*\d+)$", re.IGNORECASE)

_SECTION_STUB_RE = re.compile(r"^\d{1,2}(\.\d{1,2})?[.)]?$")


def is_valid_section_marker(tok: str) -> bool:
    """Accept ``N)`` 1-30, ``X.Y`` 1-20.1-20, bare ``N.``
    (reference `_is_valid_section_marker`, src/pipeline.py:904-919)."""
    m = re.match(r"^(\d{1,2})\)$", tok)
    if m:
        return 1 <= int(m.group(1)) <= 30
    m = re.match(r"^(\d{1,2})\.(\d{1,2})$", tok)
    if m:
        return 1 <= int(m.group(1)) <= 20 and 1 <= int(m.group(2)) <= 20
    m = re.match(r"^(\d{1,2})\.$", tok)
    if m:
        return 1 <= int(m.group(1)) <= 30
    return False


def _route_span(kind: str, body: str, media_ref: str, page: int, y: float, x: float,
                w: float, h: float, src_offset: int,
                media_text: dict[str, str] | None = None) -> Block | None:
    """Per-span classify/clean/recognize routing (reference plan selection
    §3.1 + engine routing `_build_cascade`, src/ocr_engine.py:773-815).

    ``media_text`` is an optional pre-resolved {media_ref: recognized
    text} cache — the job fills it with ONE ``recognize_batch`` call per
    Arrow batch (the north star's batched recognize step); the sequential
    oracle leaves it None and resolves refs one by one. Both paths call
    the same codec, so outputs are identical."""

    def _recognize(ref: str) -> str:
        if media_text is not None and ref in media_text:
            return media_text[ref]
        return recognize_one(ref)

    if kind == "text":
        from_ocr = False
        if not is_reliable_text(body):
            # unreliable text layer: recognize from media if present,
            # else drop (reference routes the page to the OCR branch,
            # src/pipeline.py:227-266 + 3762-3812)
            if media_ref:
                body = _recognize(media_ref)
                from_ocr = True
            else:
                return None
        elif media_ref and looks_weak_text(body):
            # P4: reliable-but-weak text (tiny/stub/letter-thin) with a
            # media backup -> re-recognize; keep the original if the
            # backup comes back empty (src/pipeline.py:632-647)
            rec = _recognize(media_ref)
            if rec.strip():
                body = rec
                from_ocr = True
        t = clean_text(body)
        if not t:
            return None
        if from_ocr and looks_garbled_for_thai(t):
            return None       # P5: OCR soup never replaces the text layer
        return Block("text", page, y, x, t, media_ref, src_offset, "text", w=w, h=h)
    if kind == "noisy_text":
        t = clean_text(body)
        if not t:
            return None
        return Block("text", page, y, x, t, "", src_offset, "noisy_text", w=w, h=h)
    if kind == "boiler":
        t = clean_text(body)
        if not t:
            return None
        return Block("text", page, y, x, t, "", src_offset, "boiler", w=w, h=h)
    if kind == "html":
        t = clean_text(strip_boilerplate_html(body))
        if not t:
            return None
        return Block("text", page, y, x, t, "", src_offset, "html", w=w, h=h)
    if kind == "image":
        raw = _recognize(media_ref)
        segs = parse_segments_payload(raw)
        if segs is not None:
            # W3: multi-segment recognize output -> line clustering
            t = "\n".join(segments_to_lines(segs))
        else:
            t = clean_text(raw)
        if not t or looks_garbled_for_thai(t):
            return None
        return Block("text", page, y, x, t, media_ref, src_offset, "image", w=w, h=h)
    if kind == "band":
        # M11 recovery band: a media-backed scan of one duty-list item.
        # Routed provisionally; finalize admits it only if its marker is
        # MISSING from the document text (additive-only,
        # src/pipeline.py:1727-1875). Soft-wrap lines join Thai-aware
        # (src/pipeline.py:1823-1838).
        t = clean_text(_recognize(media_ref))
        if not t or looks_garbled_for_thai(t):
            return None
        parts = [ln for ln in t.split("\n") if ln.strip()]
        tok = parts[0].split(" ", 1)[0] if parts else ""
        if not (tok.endswith(")") and is_valid_section_marker(tok)):
            return None       # band must lead with an "N)" duty marker
        best = parts[0]
        for ln in parts[1:]:
            head = ln.split(" ", 1)[0]
            if head.endswith(")") and is_valid_section_marker(head):
                break         # next item's band bleed-through
            best = join_text_blocks(best, ln)
        return Block("text", page, y, x, best, media_ref, src_offset, "band", w=w, h=h)
    if kind == "figure":
        # P9 figure-validity gates (reference min side/area thresholds,
        # src/exporter.py:186-196, src/layout_detector.py:459-462):
        # a bbox-carrying figure below the minimums is stray noise.
        # Point-positioned figures (no bbox) bypass — nothing to gate on.
        if (w > 0 or h > 0) and (w < FIG_MIN_SIDE or h < FIG_MIN_SIDE
                                 or w * h < FIG_MIN_AREA):
            return None
        # M4: a "figure" whose recognized content forms a real grid is a
        # misclassified table (src/layout_detector.py:290-346)
        if media_ref:
            segs = parse_segments_payload(_recognize(media_ref))
            if segs is not None:
                grid = reclassify_figure_segments(segs)
                if grid:
                    return Block("table", page, y, x, grid, media_ref,
                                 src_offset, "figure", w=w, h=h)
        return Block("figure", page, y, x, "", media_ref, src_offset, "figure", w=w, h=h)
    if kind == "page_image":
        # M1/M3 analog: one full-page recognize payload -> SEGMENTED
        # text blocks, each with its own geometry (page segmentation of
        # the north star). Non-segmented payloads fall back to a single
        # text block (whole-page OCR).
        raw = _recognize(media_ref)
        segs = parse_segments_payload(raw)
        if segs is None:
            t = clean_text(raw)
            if not t or looks_garbled_for_thai(t):
                return None
            return Block("text", page, y, x, t, media_ref, src_offset, "page_image", w=w, h=h)
        out = []
        for by, bx, btext in segment_page_blocks(segs):
            if looks_garbled_for_thai(btext):
                continue
            out.append(Block("text", page, by, bx, btext, media_ref,
                             src_offset, "page_image"))
        return out or None
    if kind == "table":
        grid = parse_grid_table(body)
        if grid is not None:
            num_rows, num_cols, entries = grid
            fill = _recognize(media_ref) if media_ref else ""
            t = grid_table_text(num_rows, num_cols, entries, fill)
        elif not body.strip() and media_ref:
            # gridless table: loose OCR items from the media payload (W5)
            segs = parse_segments_payload(_recognize(media_ref))
            t = items_to_table(segs) if segs is not None else ""
        else:
            t = flatten_table(body)
        if not t:
            return None
        return Block("table", page, y, x, t, media_ref, src_offset, "table", w=w, h=h)
    return None  # unknown kind -> quarantined


_MASHED_MARKER_RE = re.compile(r" (?=\d{1,2}\) )")


def _split_mashed_markers(blocks: list[Block]) -> list[Block]:
    """Mashed-line split (reference mashed-split pass, SURVEY §3.1 step 3;
    marker handling `_add_missing_list_markers`, src/pipeline.py:1727-1875):
    a text block whose body contains a valid duty-list marker ``N)``
    mid-line is split at each marker so every list item becomes its own
    block. Split parts keep the block geometry with a tiny deterministic
    y nudge (+0.001 per part) to preserve their relative reading order."""
    out: list[Block] = []
    for b in blocks:
        if b.kind != "text" or "\n" in b.text:
            out.append(b)
            continue
        parts = _MASHED_MARKER_RE.split(b.text)
        if len(parts) <= 1:
            out.append(b)
            continue
        # only split where the following token is a valid marker
        merged_parts: list[str] = [parts[0]]
        for p in parts[1:]:
            tok = p.split(" ", 1)[0]
            if is_valid_section_marker(tok):
                merged_parts.append(p)
            else:
                merged_parts[-1] = merged_parts[-1] + " " + p
        if len(merged_parts) <= 1:
            out.append(b)
            continue
        for i, part in enumerate(merged_parts):
            out.append(Block(b.kind, b.page, b.y + 0.001 * i, b.x, part,
                             b.media_ref if i == 0 else "",
                             b.src_offset, b.src_kind, seq=b.seq,
                             w=b.w, h=b.h))
    return out


def _drop_repeating_footers(blocks: list[Block]) -> list[Block]:
    """Boilerplate/footer strip (reference `_drop_repeating_footer_noise`,
    src/pipeline.py:1551-1586): a text block is furniture if its
    normalized key repeats on >=2 distinct pages inside the footer band,
    or it is a bare page-number line, or it was tagged 'boiler' at the
    source and sits in the footer band."""
    page_sets: dict[str, set[int]] = {}
    for b in blocks:
        if b.kind == "text":
            k = text_norm_key(b.text)
            if k:
                page_sets.setdefault(k, set()).add(b.page)
    out = []
    for b in blocks:
        if b.kind == "text":
            in_band = b.y >= FOOTER_BAND_Y or b.y < 0  # headerless: no geometry to exempt
            # page-number drop is band-limited like the repeats/boiler
            # checks — a body line that happens to be a bare number
            # stays (one_line is only consumed inside the band, so it
            # is only computed there)
            if in_band and _PAGE_NUM_RE.match(" ".join(b.text.split())):
                continue
            k = text_norm_key(b.text)
            repeats = len(page_sets.get(k, ())) >= 2
            if in_band and (repeats or b.src_kind == "boiler"):
                continue
            if b.src_kind == "boiler" and repeats:
                continue
        out.append(b)
    return out


def _char_counts(k: str) -> dict:
    # collections.Counter counts via a C helper; same mapping as the
    # previous per-char dict loop
    return Counter(k[:NEARDUP_PREFIX])


def _counter_bound(ca: dict, cb: dict, la: int, lb: int) -> float:
    """difflib.quick_ratio's multiset upper bound, from cached counters."""
    m = 0
    if len(cb) < len(ca):
        ca, cb = cb, ca
    for ch, n in ca.items():
        o = cb.get(ch)
        if o is not None:
            m += n if n < o else o
    return 2.0 * m / (la + lb)


def _is_near_duplicate_keys(ka: str, kb: str,
                            ca: dict | None = None,
                            cb: dict | None = None) -> bool:
    """Fuzzy near-dup on precomputed norm keys (reference
    `_is_near_duplicate_text`, src/pipeline.py:474-490): containment
    >=0.55 or difflib ratio >=0.90 on the first 80 chars.

    The decision predicate is ratio() >= 0.90; the length bound and
    difflib's (real_)quick_ratio are strict UPPER bounds on ratio(), so
    the cascade changes nothing semantically — it just avoids the O(n^2)
    matcher for the overwhelming non-duplicate majority (~75% of kernel
    CPU before this gate)."""
    if not ka or not kb:
        return False
    if ka == kb:
        return True
    shorter, longer = (ka, kb) if len(ka) <= len(kb) else (kb, ka)
    if len(shorter) >= 12 and shorter in longer and len(shorter) / len(longer) >= CONTAINMENT_FRAC:
        return True
    pa, pb = ka[:NEARDUP_PREFIX], kb[:NEARDUP_PREFIX]
    la, lb = len(pa), len(pb)
    if 2.0 * min(la, lb) / (la + lb) < NEARDUP_RATIO:
        return False
    # multiset upper bound from cached per-block counters (identical to
    # difflib.quick_ratio, computed without rebuilding SequenceMatcher)
    if _counter_bound(ca if ca is not None else _char_counts(ka),
                      cb if cb is not None else _char_counts(kb),
                      la, lb) < NEARDUP_RATIO:
        return False
    sm = difflib.SequenceMatcher(None, pa, pb)
    return sm.ratio() >= NEARDUP_RATIO


def _dedup_page(blocks: list[Block]) -> list[Block]:
    """Per-page dedup, simplified from the reference's
    `_dedup_page_text_blocks` (src/pipeline.py:518-560): exact key dedup
    keeps the richest duplicate (Thai content first, then length — the
    reference's preference), near-dup scans a 12-block look-back window
    (no y-proximity gate) and keeps the earlier block."""
    by_page: dict[int, list[Block]] = {}
    for b in blocks:
        by_page.setdefault(b.page, []).append(b)
    out: list[Block] = []
    for page in sorted(by_page):
        page_blocks = sorted(by_page[page], key=lambda b: (b.y, b.x, b.src_offset))
        # exact dedup: keep the longest text per norm key
        best_idx: dict[str, int] = {}
        order: list[Block] = []
        for b in page_blocks:
            if b.kind != "text":
                order.append(b)
                continue
            k = b.norm_key = text_norm_key(b.text)
            if k in best_idx:
                idx = best_idx[k]
                o = order[idx]
                # richest duplicate wins: Thai content first (the
                # reference's preference), then length
                if (_thai_count(b.text), len(b.text)) > (_thai_count(o.text), len(o.text)):
                    order[idx] = b
                continue
            best_idx[k] = len(order)
            order.append(b)
        # near-dup with bounded look-back (norm keys precomputed above;
        # char counters cached per block for the quick-ratio bound)
        kept: list[Block] = []
        for b in order:
            if b.kind == "text":
                if b.cnt is None:
                    b.cnt = _char_counts(b.norm_key)
                if any(_is_near_duplicate_keys(b.norm_key, w.norm_key, b.cnt, w.cnt)
                       for w in kept[-DEDUP_LOOKBACK:] if w.kind == "text"):
                    continue
            kept.append(b)
        out.extend(kept)
    return out


def _merge_section_stubs(blocks: list[Block]) -> list[Block]:
    """Marker/stub recovery (reference `_merge_section_stubs_with_titles`,
    src/pipeline.py:1478-1548): a bare section-marker block ('2.1' / '3.')
    merges with the nearest following text block on the same page within
    10% page height below it."""
    def _is_stub(text: str) -> bool:
        tok = text.strip()
        if not _SECTION_STUB_RE.match(tok):
            return False
        if tok[-1] not in ").":
            tok = tok + "." if "." not in tok else tok
        return is_valid_section_marker(tok)

    out = list(blocks)
    # per-page index of text-block positions: the candidate scan is
    # per-page, not doc-global — a chunked mega-document's finalize
    # task stays linear instead of quadratic in total block count
    page_index: dict[int, list[int]] = {}
    for j, c in enumerate(out):
        if c.kind == "text":
            page_index.setdefault(c.page, []).append(j)
    dead: set[int] = set()
    for i, b in enumerate(out):
        if i in dead or b.kind != "text" or not _is_stub(b.text):
            continue
        # nearest following text block, same page, within band
        cand_idx, cand_dy = -1, 0.10 * PAGE_H + 1
        for j in page_index.get(b.page, ()):
            if j == i or j in dead:
                continue
            c = out[j]
            dy = c.y - b.y
            if 0 <= dy < cand_dy and not _SECTION_STUB_RE.match(c.text.strip()):
                cand_idx, cand_dy = j, dy
        if cand_idx >= 0:
            c = out[cand_idx]
            h = (c.y + c.h) - b.y if c.h > 0 else b.h
            out[i] = Block("text", b.page, b.y, b.x,
                           f"{b.text.strip()} {c.text}", c.media_ref,
                           b.src_offset, b.src_kind, seq=b.seq,
                           w=max(b.w, c.w), h=h)
            dead.add(cand_idx)
    return [b for j, b in enumerate(out) if j not in dead]




def _prune_structure_topk(blocks: list[Block], max_figs: int = 2,
                          max_tables: int = 2) -> list[Block]:
    """T1+T4 structure pruning (reference `_select_page_structure`,
    src/pipeline.py:2538-2555): per page keep the `max_figs` largest
    figures (bbox area desc, then (y, x)) and the `max_tables` richest
    tables (text length desc, then (y, x)). T4: a figure under 8% of the
    page's largest figure area is a sliver and is dropped even inside
    the top-k (src/pipeline.py:2548-2550); point-positioned figures
    (no bbox) bypass the area gate — they carry no geometry to compare."""
    keep: set[int] = set()
    by_page: dict[int, list[tuple[int, Block]]] = {}
    for i, b in enumerate(blocks):
        if b.kind in ("figure", "table"):
            by_page.setdefault(b.page, []).append((i, b))
        else:
            keep.add(i)
    for page_items in by_page.values():
        figs = [(i, b) for i, b in page_items if b.kind == "figure"]
        tabs = [(i, b) for i, b in page_items if b.kind == "table"]
        figs.sort(key=lambda ib: (-(ib[1].w * ib[1].h), ib[1].y, ib[1].x, ib[1].seq))
        if figs:
            max_area = figs[0][1].w * figs[0][1].h
            if max_area > 0:
                min_area = max(max_area * 0.08, 1.0)
                figs = [ib for ib in figs
                        if ib[1].w * ib[1].h <= 0
                        or ib[1].w * ib[1].h >= min_area]
        tabs.sort(key=lambda ib: (-len(ib[1].text), ib[1].y, ib[1].x, ib[1].seq))
        keep.update(i for i, _ in figs[:max_figs])
        keep.update(i for i, _ in tabs[:max_tables])
    return [b for i, b in enumerate(blocks) if i in keep]


_MARKER_NUM_RE = re.compile(r"^(\d{1,2})\)")


def _recover_missing_markers(blocks: list[Block]) -> list[Block]:
    """M11-lite additive band recovery (rebuilt from
    `_add_missing_list_markers`, src/pipeline.py:1727-1875): a routed
    band block is admitted only when its duty marker "N)" is missing
    from the document's own text AND its content passes the substance
    gates (>=12 letters or a >=4-letter Latin word — the reference's
    thai>=12 / [A-Za-z]{4,} accept rule); otherwise it is dropped.
    Recovery is strictly additive: present markers never get replaced."""
    bands = [b for b in blocks if b.src_kind == "band"]
    if not bands:
        return blocks
    joined = "\n".join(b.text for b in blocks
                       if b.kind == "text" and b.src_kind != "band")
    out = [b for b in blocks if b.src_kind != "band"]
    # T3 early-exit: the set of still-missing markers is computed once;
    # scanning stops the moment it drains (reference band-scan loop,
    # src/pipeline.py:882-900: `if not still: break`)
    still: set[str] = set()
    for b in bands:
        m = _MARKER_NUM_RE.match(b.text)
        if m is not None and not re.search(rf"(?:^|\n)\s*{m.group(1)}\s*\)", joined):
            still.add(m.group(1))
    for b in sorted(bands, key=lambda b: (b.page, b.y, b.x, b.src_offset)):
        if not still:
            break             # every missing marker recovered -> stop
        m = _MARKER_NUM_RE.match(b.text)
        if m is None or m.group(1) not in still:
            continue          # marker already present -> additive only
        content = b.text[m.end():].strip()
        letters = sum(1 for ch in content if ch.isalpha())
        if letters < 12 and not re.search(r"[A-Za-z]{4,}", content):
            continue          # substance gate
        out.append(b)
        still.discard(m.group(1))
    return out


def _overlap_frac_of_inner(inner: Block, outer: Block) -> float:
    """Fraction of *inner*'s bbox area inside *outer* (reference
    `_mostly_inside`, src/pipeline.py:2442-2454)."""
    if inner.w <= 0 or inner.h <= 0 or outer.w <= 0 or outer.h <= 0:
        return 0.0
    ix0 = max(inner.x, outer.x)
    iy0 = max(inner.y, outer.y)
    ix1 = min(inner.x + inner.w, outer.x + outer.w)
    iy1 = min(inner.y + inner.h, outer.y + outer.h)
    if ix1 <= ix0 or iy1 <= iy0:
        return 0.0
    return (ix1 - ix0) * (iy1 - iy0) / max(inner.w * inner.h, 1e-9)


_SECONDARY_SRC_KINDS = ("image", "band")
_PRIMARY_SRC_KINDS = ("text", "html", "boiler", "noisy_text")


def _replace_weak_primaries(blocks: list[Block]) -> list[Block]:
    """J2 full complementary merge (rebuilt from
    `_merge_complementary_blocks`'s weak-primary swap,
    src/pipeline.py:2478-2496): a secondary (OCR-sourced) text block
    whose bbox lies mostly (>0.65) inside a primary (embedded-layer)
    block REPLACES that primary's content when it is much richer
    (>15 more letters and longer, or the primary is a bare section
    stub). Exact duplicates are left to the dedup pass. The replacement
    keeps the primary's geometry/seq so reading order is unchanged
    (divergence from the reference, which re-sorts on the secondary's
    bbox — our synthetic overlap makes the two equivalent)."""
    prim_idx = [i for i, b in enumerate(blocks)
                if b.kind == "text" and b.src_kind in _PRIMARY_SRC_KINDS
                and b.w > 0 and b.h > 0]
    if not prim_idx:
        return blocks
    consumed: set[int] = set()
    for j, s in enumerate(blocks):
        if (s.kind != "text" or s.src_kind not in _SECONDARY_SRC_KINDS
                or s.w <= 0 or s.h <= 0):
            continue
        for i in prim_idx:
            p = blocks[i]
            if p.page != s.page or _overlap_frac_of_inner(s, p) <= 0.65:
                continue
            if text_norm_key(s.text) == text_norm_key(p.text):
                break         # exact dup -> handled by _dedup_page
            a_s = sum(1 for ch in s.text if ch.isalpha())
            a_p = sum(1 for ch in p.text if ch.isalpha())
            if a_s > a_p + 15 and (len(s.text) > len(p.text)
                                   or _SECTION_STUB_RE.match(p.text.strip())):
                blocks[i] = Block(p.kind, p.page, p.y, p.x, s.text,
                                  s.media_ref, p.src_offset, s.src_kind,
                                  seq=p.seq, w=p.w, h=p.h)
                consumed.add(j)
            break
    if not consumed:
        return blocks
    return [b for j, b in enumerate(blocks) if j not in consumed]


def _center_in_rect(b: Block, r: Block) -> bool:
    if r.w <= 0 or r.h <= 0:
        return False
    cx = b.x + b.w / 2.0
    cy = b.y + b.h / 2.0
    return r.x <= cx <= r.x + r.w and r.y <= cy <= r.y + r.h


def _suppress_text_in_structure(blocks: list[Block]) -> list[Block]:
    """J1 bbox-overlap anti-join (reference `_suppress_text_in_structure`,
    src/docling_adapter.py:1589-1651; overlap frac src/pipeline.py:425-434):
    drop text blocks whose bbox center lies inside a same-page table or
    figure rect — their content is already represented by the structure
    block. Heading/marker lines are exempt (reference keeps them)."""
    structs: dict[int, list[Block]] = {}
    for b in blocks:
        if b.kind in ("table", "figure") and b.w > 0 and b.h > 0:
            structs.setdefault(b.page, []).append(b)
    if not structs:
        return blocks
    out = []
    for b in blocks:
        if b.kind == "text" and b.page in structs:
            head = b.text.split(" ", 1)[0] if b.text else ""
            is_heading = is_valid_section_marker(head)
            if not is_heading and any(_center_in_rect(b, r) for r in structs[b.page]):
                continue
        out.append(b)
    return out


_THAI_CHAR_RE = re.compile(r"[ก-๎]")


def join_text_blocks(a: str, b: str) -> str:
    """Thai-aware join (reference `_thai_join` src/exporter.py:1310-1327,
    `_join_trocr_chunks` src/ocr_engine.py:188-204): no space inserted
    between a Thai trailing char and a Thai leading char."""
    if not a:
        return b
    if not b:
        return a
    if _THAI_CHAR_RE.match(a[-1]) and _THAI_CHAR_RE.match(b[0]):
        return a + b
    return a + " " + b


# Paragraph merge geometry gates (reference `_merge_lines_to_paragraphs`,
# src/exporter.py:1329-1381: gap < 0.85 x line height, indent < 35%).
PARA_GAP_FACTOR = 0.85
PARA_MAX_INDENT = 0.35 * PAGE_W


def _merge_wrapped_lines(blocks: list[Block]) -> list[Block]:
    """W4 line->paragraph merge over the final reading order: a text
    block continues the previous text block when both carry a bbox
    height, they sit on the same page/column, the vertical gap is
    < 0.85 x the previous line height, and the x offset is small.
    Marker/heading lines never merge in either direction."""
    out: list[Block] = []
    for b in blocks:
        if out and b.kind == "text" and out[-1].kind == "text":
            p = out[-1]
            head_b = b.text.split(" ", 1)[0] if b.text else ""
            head_p = p.text.split(" ", 1)[0] if p.text else ""
            if (p.page == b.page and p.h > 0 and b.h > 0
                    and 0 <= (b.y - (p.y + p.h)) < PARA_GAP_FACTOR * p.h
                    and abs(b.x - p.x) <= PARA_MAX_INDENT
                    and not is_valid_section_marker(head_b)
                    and not is_valid_section_marker(head_p)
                    and "\n" not in p.text and "\n" not in b.text):
                merged = Block(p.kind, p.page, p.y, p.x,
                               join_text_blocks(p.text, b.text), p.media_ref,
                               p.src_offset, p.src_kind, seq=p.seq,
                               w=max(p.w, b.w), h=(b.y + b.h) - p.y)
                out[-1] = merged
                continue
        out.append(b)
    return out


def sort_reading_order(blocks: list[Block]) -> list[Block]:
    """Column-aware XY-cut reading order, simplified from the reference's
    `_sort_reading_order` (src/pipeline.py:402-422; final sort
    src/pipeline.py:2850 — the reference splits columns at mid-page x;
    here: at the largest inter-block x gap): per page, if blocks form two
    x-clusters separated by >10% page width, sort each column by (y, x)
    and concatenate left-then-right; else global (y, x). Headerless
    blocks (y<0) order by source offset first."""
    by_page: dict[int, list[Block]] = {}
    for b in blocks:
        by_page.setdefault(b.page, []).append(b)
    out: list[Block] = []
    for page in sorted(by_page):
        pb = by_page[page]
        positioned = [b for b in pb if b.y >= 0]
        floating = sorted([b for b in pb if b.y < 0], key=lambda b: b.src_offset)
        if len(positioned) >= 4:
            xs = sorted(b.x for b in positioned)
            # largest inter-block x gap
            gap, split = 0.0, None
            for a, c in zip(xs, xs[1:]):
                if c - a > gap:
                    gap, split = c - a, (a + c) / 2.0
            if gap > COLUMN_GAP_FRAC * PAGE_W and split is not None:
                left = [b for b in positioned if b.x < split]
                right = [b for b in positioned if b.x >= split]
                if len(left) >= 2 and len(right) >= 2:
                    key = lambda b: (b.y, b.x, b.src_offset)
                    out.extend(sorted(left, key=key) + sorted(right, key=key) + floating)
                    continue
        out.extend(sorted(positioned, key=lambda b: (b.y, b.x, b.src_offset)) + floating)
    return out


def route_spans(spans: list[dict],
                media_text: dict[str, str] | None = None,
                base_seq: int = 0) -> list[Block]:
    """Phase 1 (embarrassingly parallel — safe to run per span-chunk):
    parse geometry + classify/clean/recognize each span independently.
    This is where ~90% of the extraction CPU lives, so it is the phase
    the oversized-document chunking path spreads across tasks."""
    blocks: list[Block] = []
    if spans is None:            # explicit: Arrow hands numpy arrays, whose
        spans = ()               # truthiness raises — never `spans or []`
    for i, s in enumerate(spans):
        kind = s.get("kind") or ""
        raw = s.get("text") or ""
        media_ref = s.get("media_ref") or ""
        src_offset = int(s.get("offset") or 0)
        page, y, x, w, h, body = parse_pos_header(raw)
        b = _route_span(kind, body, media_ref, page, y, x, w, h, src_offset, media_text)
        if b is None:
            continue
        # a page_image span segments into MULTIPLE blocks; all carry the
        # span's seq (stable sorts keep their within-span order on the
        # chunked path — one span never straddles a chunk boundary)
        for blk in (b if isinstance(b, list) else (b,)):
            blk.seq = base_seq + i
            blocks.append(blk)
    return blocks


def finalize_blocks(blocks: list[Block]) -> list[tuple[str, str, str, int]]:
    """Phase 2 (needs the whole document): mashed-marker split, missing-
    marker band recovery, weak-primary replacement, cross-page footer-
    repeat strip, stub merge, dedup, structure prune, overlap
    suppression, reading order, paragraph merge, figure numbering, dense
    offsets. Cheap relative to routing — operates on cleaned blocks."""
    if not blocks:
        return []
    blocks = _split_mashed_markers(blocks)
    blocks = _recover_missing_markers(blocks)
    blocks = _replace_weak_primaries(blocks)
    blocks = _drop_repeating_footers(blocks)
    blocks = _merge_section_stubs(blocks)
    blocks = _dedup_page(blocks)
    blocks = _prune_structure_topk(blocks)
    blocks = _suppress_text_in_structure(blocks)
    blocks = sort_reading_order(blocks)
    blocks = _merge_wrapped_lines(blocks)

    # figure placeholders in final order (reference `_blocks_to_text`,
    # src/pipeline.py:4157-4178: "[Figure {i} — Page {p}]")
    fig_i = 0
    out: list[tuple[str, str, str, int]] = []
    for off, b in enumerate(blocks):
        text = b.text
        if b.kind == "figure":
            fig_i += 1
            text = f"[Figure {fig_i} — Page {b.page + 1}]"
        out.append((b.kind, text, b.media_ref, off))
    return out


def extract_document(doc_id: str, spans: list[dict],
                     media_text: dict[str, str] | None = None) -> list[tuple[str, str, str, int]]:
    """THE extraction pipeline for one document: route/clean/recognize ->
    footer strip -> stub merge -> dedup -> reading order -> figure
    placeholders -> dense offsets.

    Pass order mirrors the reference's `_run_layout_pipeline` +
    `process_pdf` finalization (src/pipeline.py:2910-3418, 2840-2860) —
    order matters for output equality, so tests pin it. Composed of
    route_spans + finalize_blocks so the chunked (skew) execution path
    shares the identical code.

    Returns the ordered span tuples ``(kind, text, media_ref, offset)``.
    """
    return finalize_blocks(route_spans(spans, media_text))


def block_to_tuple(b: Block) -> tuple:
    """Tuple wire form (field order == job._BLOCK); Arrow accepts
    tuples for struct columns, skipping one dict per block."""
    return (b.kind, b.page, b.y, b.x, b.text, b.media_ref,
            b.src_offset, b.src_kind, b.seq, b.w, b.h)


def block_from_dict(d: dict) -> Block:
    return Block(d["kind"], int(d["page"]), float(d["y"]), float(d["x"]),
                 d["text"], d["media_ref"] or "", int(d["src_offset"]),
                 d["src_kind"] or "", seq=int(d["seq"]),
                 w=float(d["w"]), h=float(d["h"]))


# --------------------------------------------------------------------------
# Checksums (lineage table; north rule)
# --------------------------------------------------------------------------

_CHECK_MOD = (1 << 61) - 1


def doc_checksum(doc_id: str, out_spans: list[tuple[str, str, str, int]]) -> int:
    h = hashlib.md5()
    h.update(doc_id.encode("utf-8"))
    for kind, text, media_ref, off in out_spans:
        h.update(b"\x1e")
        h.update(kind.encode("utf-8"))
        h.update(b"\x1f")
        h.update(text.encode("utf-8"))
        h.update(b"\x1f")
        h.update(media_ref.encode("utf-8"))
        h.update(b"\x1f")
        h.update(str(off).encode("ascii"))
    return int(h.hexdigest()[:15], 16) % _CHECK_MOD


def combine_checksums(values) -> str:
    """Order-insensitive combine: sum mod 2^61-1, hex-encoded. Stable
    across partitionings, so N-vs-4N runs and resumed runs produce the
    same global checksum (FIXTURES.md §3 invariant)."""
    total = 0
    for v in values:
        total = (total + int(v)) % _CHECK_MOD
    return format(total, "016x")
