"""Vectorized text-page layout kernel (implements kernel/SPEC.md).

This is what Spark executes inside ``mapInPandas``: per Arrow batch,
all character-level work (line classification, binarization, ink
profiles) is done with pandas/numpy vectorized string ops across the
*flattened line array of the whole batch*; region assembly, column
detection and span emission run as segmented numpy over the batch too
(per-page resets), with Python only in small per-region patch loops.

Reference parity (all citations into /root/reference/qurator/eynollah):
- two-model classification + binarized-retry gate: eynollah.py:1148-1379
- patch-wise inference with overlap-margin stitching (do_prediction):
  eynollah.py:522-639 -> ``LineModel.classify_patched``
- page border extraction: eynollah.py:673-710
- column split (find_num_col): utils/__init__.py:363-532
- reading order (order_of_regions): utils/__init__.py:993-1156
- drop-capital adherence: utils/drop_capitals.py:9-347
- small-textline adherence: utils/__init__.py:860-991
- deskew slope (fitLine): utils/__init__.py:331-332
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from eynollah_spark.config import (
    DEFAULT_CONFIG,
    RT_TABLE,
    ExtractConfig,
    FOOTER_PREFIXES,
    RT_DROPCAP,
    RT_HEADER,
    RT_MARGINALIA,
    RT_SEPARATOR,
    RT_TEXT,
    RT_TOOL,
    SEP_CHARS,
)

# blocks longer than this bypass the vectorized int64 LS-slope gate
# and use Python's exact integer arithmetic instead. B_e = cn*sk2 -
# sk^2 ~ cn^4/12 wraps int64 at cn ~ (12*2^63)^(1/4) ~ 102,570; 2^16
# leaves a ~2^10 margin that also covers A_e's extra indent factor
_LS_GATE_MAX_LINES = 1 << 16

# integer line classes (pixel-code analog, eynollah.py:1269-1282)
C_BLANK, C_SEP, C_MARG, C_HEADER, C_DROPCAP, C_TEXT = 0, 1, 2, 3, 4, 5
# assigned outside the classifier:
C_FENCE, C_TOOL = 6, 7
# table row (M10 analog; only produced when cfg.enable_tables)
C_TABLE = 8

_SEP_RE = "^[" + re.escape("".join(sorted(SEP_CHARS))) + "]{3,}$"
_HEADER_RE = r"^(?:#{1,6} |[A-Z][A-Z0-9_]{2,11}:)"
_NONASCII_RE = r"[^\x00-\x7f]"


class LineModel:
    """The broadcastable 'model weights' for line classification.

    Stand-in for the reference's CNN ensemble (M4/M5,
    eynollah.py:140-141): a deterministic rule model whose parameters
    (regexes + thresholds) are broadcast once via ``sc.broadcast`` and
    applied to whole Arrow batches — the north-rule requirement that
    weights are shipped once per executor, not per task closure.
    """

    # how many neighboring lines influence one line's label. The rule
    # head is per-line (0); a contextual model (e.g. a CNN over a line
    # window) would set its receptive-field half-width here, and the
    # patch harness guarantees margin >= context so stitching is exact.
    context_window: int = 0

    def __init__(self, cfg: ExtractConfig = DEFAULT_CONFIG):
        self.cfg = cfg

    # --- model A / model B shared rule head -------------------------------
    def classify_stripped(self, stripped: pd.Series) -> np.ndarray:
        """Vectorized SPEC §4 rules over a Series of stripped lines."""
        cfg = self.cfg
        n = len(stripped)
        out = np.full(n, C_TEXT, dtype=np.int8)
        slen = stripped.str.len().to_numpy()

        blank = slen == 0
        sep = stripped.str.match(_SEP_RE, na=False).to_numpy()
        marg = (
            stripped.str.startswith("[note:", na=False)
            & stripped.str.endswith("]", na=False)
        ).to_numpy()
        header = (
            stripped.str.match(_HEADER_RE, na=False).to_numpy()
            & (slen <= cfg.header_max_len)
        )
        first = stripped.str.slice(0, 1)
        dropcap = (slen == 1) & (first >= "A").to_numpy() & (first <= "Z").to_numpy()

        # first-match-wins precedence, applied in reverse priority;
        # header/dropcap only exist in full-layout mode (the M6/M7
        # second-model pass, eynollah.py:1837)
        if cfg.enable_tables:
            table = stripped.str.count(r"\|").to_numpy() >= cfg.table_min_pipes
            out[table] = C_TABLE
        if cfg.full_layout:
            out[dropcap] = C_DROPCAP
            out[header] = C_HEADER
        out[marg] = C_MARG
        out[sep] = C_SEP
        out[blank] = C_BLANK
        return out

    def classify_arrow(self, stripped_pa, s_len: np.ndarray) -> np.ndarray:
        """Arrow fast path of the rule head: same rules as
        ``classify_stripped`` evaluated with pyarrow.compute (RE2) over
        contiguous buffers. Pattern set is RE2-compatible and anchored,
        so it is semantics-identical to the Python-re path (the fuzz
        suite exercises both against the oracle)."""
        import pyarrow.compute as pc

        cfg = self.cfg
        n = len(s_len)
        out = np.full(n, C_TEXT, dtype=np.int8)
        blank = s_len == 0
        sep = pc.match_substring_regex(stripped_pa, _SEP_RE).to_numpy(
            zero_copy_only=False
        ).astype(bool)
        marg = (
            pc.starts_with(stripped_pa, "[note:").to_numpy(zero_copy_only=False)
            & pc.ends_with(stripped_pa, "]").to_numpy(zero_copy_only=False)
        ).astype(bool)
        header = pc.match_substring_regex(stripped_pa, _HEADER_RE).to_numpy(
            zero_copy_only=False
        ).astype(bool) & (s_len <= cfg.header_max_len)
        first = pc.utf8_slice_codeunits(stripped_pa, 0, 1)
        dropcap = (
            (s_len == 1)
            & pc.greater_equal(first, "A").to_numpy(zero_copy_only=False).astype(bool)
            & pc.less_equal(first, "Z").to_numpy(zero_copy_only=False).astype(bool)
        )
        if cfg.enable_tables:
            table = (
                pc.count_substring(stripped_pa, "|")
                .to_numpy()
                .astype(np.int64)
                >= cfg.table_min_pipes
            )
            out[table] = C_TABLE
        if cfg.full_layout:
            out[dropcap] = C_DROPCAP
            out[header] = C_HEADER
        out[marg] = C_MARG
        out[sep] = C_SEP
        out[blank] = C_BLANK
        return out

    def classify_patched(self, stripped: pd.Series) -> np.ndarray:
        """Patch-wise application with overlap-margin stitching — the
        do_prediction graft (eynollah.py:522-639): the line array is
        tiled into patches of ``patch_lines`` with ``patch_margin``
        overlap on each side; only each patch's interior is written to
        the output (first/last patches keep their outer edge, the 9-case
        interior rule at eynollah.py:590-634 collapsed to 1-D)."""
        cfg = self.cfg
        n = len(stripped)
        step = cfg.patch_lines - 2 * cfg.patch_margin
        if n <= cfg.patch_lines or step <= 0:
            return self.classify_stripped(stripped)
        if self.context_window == 0:
            # per-line model: interior-stitched patch output is exactly
            # the whole-array prediction (margin writes are identity),
            # so run the vectorized head once instead of per patch.
            # The patch loop below stays live for contextual models and
            # is equivalence-tested in tests/test_kernel_oracle.py.
            return self.classify_stripped(stripped)
        out = np.empty(n, dtype=np.int8)
        start = 0
        while start < n:
            lo = max(0, start - cfg.patch_margin)
            hi = min(n, start + step + cfg.patch_margin)
            pred = self.classify_stripped(stripped.iloc[lo:hi])
            w_lo = start
            w_hi = min(n, start + step)
            out[w_lo:w_hi] = pred[w_lo - lo : w_hi - lo]
            start += step
        return out


# Every code point Python's str.strip()/str.isspace() treats as
# whitespace — passed to Arrow's utf8_trim so the Arrow fast path has
# BIT-EXACT parity with the oracle's Python .strip() (Arrow's
# utf8_trim_whitespace uses the Unicode White_Space property, which
# differs on \x1c-\x1f etc.).
_PY_WHITESPACE = "".join(chr(c) for c in range(0x3001) if chr(c).isspace())
# boolean LUT over the same range for grid-side .strip() parity
# (0x3000 IDEOGRAPHIC SPACE is Unicode's highest whitespace codepoint,
# so clamping larger codepoints to index 0 — NUL, not whitespace — is
# exact); used by the batched column-span trim in _emit_cols
_WS_LUT = np.zeros(0x3001, dtype=bool)
_WS_LUT[[ord(c) for c in _PY_WHITESPACE]] = True


def _flatten_lines_arrow(texts: pd.Series):
    """Split a batch of turn texts into one flat Arrow line array.

    Returns (lines_pa: pa.StringArray (flattened), turn_ord: int64[],
    line_start: int64[], n_per: int64[]). line_start is the char
    offset of each line within its own turn text. All string traffic
    stays in Arrow contiguous buffers; no per-line Python objects are
    created here.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(texts.to_numpy(), type=pa.string(), from_pandas=True)
    arr = pc.coalesce(arr, pa.scalar("", type=pa.string()))
    split = pc.split_pattern(arr, "\n")
    n_per = pc.list_value_length(split).to_numpy().astype(np.int64)
    lines_pa = pc.list_flatten(split)
    turn_ord = np.repeat(np.arange(len(texts), dtype=np.int64), n_per)
    lens = pc.utf8_length(lines_pa).to_numpy().astype(np.int64)
    csum = np.cumsum(lens + 1)
    turn_first = np.zeros(len(texts), dtype=np.int64)
    if len(texts):
        turn_first[1:] = np.cumsum(n_per)[:-1]
    global_start = np.concatenate(([0], csum[:-1]))
    nonzero = n_per > 0
    base = np.repeat(global_start[turn_first[nonzero]], n_per[nonzero])
    line_start = global_start - base
    return lines_pa, turn_ord, line_start, n_per, lens


SPAN_COLUMNS = [
    "span_idx",
    "region_type",
    "region_seq",
    "char_start",
    "char_end",
    "text",
]


def _wrap_line(ln: str, width: int) -> list:
    """Greedy space-wrap of one over-long line (> width): each cut is
    the LAST space at index <= width (hard cut at width when a token
    is wider than the page); pieces are right-trimmed, the remainder
    left-trimmed, empty pieces dropped."""
    parts = []
    s = ln
    while len(s) > width:
        cut = s.rfind(" ", 1, width + 1)
        if cut == -1:
            head, s = s[:width], s[width:]
        else:
            head, s = s[:cut], s[cut + 1 :]
        head = head.rstrip(" ")
        s = s.lstrip(" ")
        if head:
            parts.append(head)
    if s:
        parts.append(s)
    return parts


def enhance_page_text(text: str, cfg: ExtractConfig):
    """SPEC §1e enhancement pre-pass (M1 analog, reference
    eynollah.py:381-450,1988-2010): a page whose ink density
    (len(text) / n_lines, the DPI analog) is below
    ``enhancement_density_min`` is rewritten before classification —
    lines right-trimmed, runs of blank lines collapsed to one,
    over-long lines greedily re-wrapped at spaces. Returns
    (new_text, was_enhanced); span offsets downstream refer to the
    enhanced text."""
    n_lines = text.count("\n") + 1
    if len(text) / n_lines >= cfg.enhancement_density_min:
        return text, False
    out = []
    prev_blank = False
    for ln in text.split("\n"):
        ln = ln.rstrip(" ")
        blank = ln == ""
        if blank and prev_blank:
            continue
        prev_blank = blank
        if len(ln) > cfg.enhancement_wrap_width:
            out.extend(_wrap_line(ln, cfg.enhancement_wrap_width))
        else:
            out.append(ln)
    return "\n".join(out), True


def analyze_turns_batch(
    pdf: pd.DataFrame, model: LineModel | None = None
) -> pd.DataFrame:
    """Batch kernel: pdf has columns (conv_id, turn_idx, role, text);
    returns (conv_id, turn_idx, span_idx, region_type, region_seq,
    char_start, char_end, text)."""
    return _analyze_batch(pdf, model, want_diag=False)


def page_diags_batch(
    pdf: pd.DataFrame, model: LineModel | None = None
) -> pd.DataFrame:
    """Per-page diagnostics (SPEC §11)."""
    return _analyze_batch(pdf, model, want_diag=True)


def analyze_turns_frames(
    pdf: pd.DataFrame, model: LineModel | None = None
) -> list[pd.DataFrame]:
    """Iterator-friendly twin of ``analyze_turns_batch``: returns the
    frames of the two emission front ends (``_emit_fast`` for pages
    without column splits, ``_emit_cols`` for column pages) as a LIST
    (0-2 entries) instead of concatenating them, skipping the pandas
    block consolidation that concat forces. Row order across the
    frames is NOT part of the contract."""
    return [f for _pages, f in analyze_turns_parts(pdf, model)]


def analyze_turns_parts(
    pdf: pd.DataFrame, model: LineModel | None = None
) -> list[tuple[np.ndarray, pd.DataFrame]]:
    """``analyze_turns_frames`` with each frame's span pages: pairs of
    (row position in ``pdf`` of every span, frame). Each frame is in
    (page, span_idx) order and no page spans two frames, so a stable
    sort of the concatenated positions gives the batch's spans in
    (turn, span_idx) order while mapInPandas yields the frames as
    they are."""
    return _analyze_batch(pdf, model, want_diag=False, as_parts=True)


def _analyze_batch(
    pdf: pd.DataFrame, model, want_diag: bool, as_parts: bool = False
):
    if model is None:
        model = LineModel()
    cfg = model.cfg
    import pyarrow.compute as pc

    texts = pdf["text"].astype("object").fillna("")
    roles = pdf["role"].to_numpy()

    # §1e enhancement pre-pass (gated; M1 analog): flagged low-density
    # non-tool pages are rewritten before the line flatten, so every
    # downstream feature/offset sees the enhanced text. The gate is
    # vectorized; the rewrite itself runs only on the flagged subset.
    was_enh = np.zeros(len(pdf), dtype=bool)
    if cfg.enable_enhancement and len(pdf):
        nl = texts.str.count("\n").to_numpy() + 1
        nc = texts.str.len().to_numpy()
        flag = ((nc / nl) < cfg.enhancement_density_min) & (roles != "tool")
        if flag.any():
            tv = texts.to_numpy(copy=True)
            for i in np.flatnonzero(flag):
                tv[i], e = enhance_page_text(tv[i], cfg)
                was_enh[i] = e
            texts = pd.Series(tv, dtype="object")

    lines_pa, turn_ord, line_start, n_per, raw_len = _flatten_lines_arrow(texts)

    # --- Arrow-vectorized per-line features over the whole batch ---
    # (contiguous buffers + RE2; _PY_WHITESPACE keeps .strip() parity)
    stripped_pa = pc.utf8_trim(lines_pa, _PY_WHITESPACE)
    s_len = pc.utf8_length(stripped_pa).to_numpy().astype(np.int64)
    lstr_len = (
        raw_len
        - pc.utf8_length(pc.utf8_ltrim(lines_pa, _PY_WHITESPACE))
        .to_numpy()
        .astype(np.int64)
    )

    def _b(arrow_bool):
        return arrow_bool.to_numpy(zero_copy_only=False).astype(bool)

    is_banner = (
        (s_len >= 6)
        & _b(pc.starts_with(stripped_pa, "==="))
        & _b(pc.ends_with(stripped_pa, "==="))
    )
    is_footer = np.zeros(len(s_len), dtype=bool)
    for p in FOOTER_PREFIXES:
        is_footer |= _b(pc.starts_with(stripped_pa, p))
    is_fence_marker = _b(pc.starts_with(stripped_pa, "```"))

    if model.context_window == 0:
        cls_a = model.classify_arrow(stripped_pa, s_len)
        # model B: binarized retry input (eynollah.py:1230-1266).
        # Binarization only alters lines containing non-ASCII, so the
        # second pass runs on exactly those lines; the rest reuse
        # cls_a (identical input => identical per-line labels).
        cls_b = cls_a.copy()
        has_nonascii = _b(pc.match_substring_regex(lines_pa, _NONASCII_RE))
        if has_nonascii.any():
            import pyarrow as pa

            bin_sub_pa = pc.utf8_trim(
                pc.replace_substring_regex(
                    lines_pa.filter(pa.array(has_nonascii)), _NONASCII_RE, ""
                ),
                _PY_WHITESPACE,
            )
            cls_b[has_nonascii] = model.classify_arrow(
                bin_sub_pa, pc.utf8_length(bin_sub_pa).to_numpy().astype(np.int64)
            )
        stripped = None  # pandas Series not needed on the fast path
    else:
        stripped = pd.Series(
            stripped_pa.to_numpy(zero_copy_only=False), dtype="object"
        )
        lines = pd.Series(lines_pa.to_numpy(zero_copy_only=False), dtype="object")
        cls_a = model.classify_patched(stripped)
        bin_stripped = lines.str.replace(_NONASCII_RE, "", regex=True).str.strip()
        cls_b = model.classify_patched(bin_stripped)

    # --- batch-wide page assembly (segmented numpy; SPEC §§1-5) ---
    # Pages average ~13 lines, so per-page Python/numpy dispatch
    # dominates when run page-at-a-time; instead every per-LINE pass
    # (border trim, fence toggles, agreement gate, band splits, region
    # runs) runs once over the flattened batch with per-page resets,
    # and Python touches only per-REGION lists (~spans/3 items).
    P = len(pdf)
    n = len(lines_pa)
    offsets = np.zeros(P + 1, dtype=np.int64)
    np.cumsum(n_per, out=offsets[1:])
    # materialize Python strings once, at the boundary where span text
    # objects are needed anyway
    lines_np = lines_pa.to_numpy(zero_copy_only=False)
    stripped_np = stripped_pa.to_numpy(zero_copy_only=False)
    firsts = offsets[:-1]
    tool_page = roles == "tool"

    page = np.repeat(np.arange(P, dtype=np.int64), n_per)
    rel = np.arange(n, dtype=np.int64) - np.repeat(firsts, n_per)
    nz = n_per > 0

    def page_excl(mask):
        """Per-page exclusive prefix count of a per-line mask."""
        excl = np.cumsum(mask) - mask
        base = np.zeros(P, dtype=np.int64)
        base[nz] = excl[firsts[nz]]
        return excl - base[page]

    # §2 border strip: first banner in the leading scan window sets lo,
    # first footer in the trailing window sets hi (<= 3 gathers each)
    lo = np.zeros(P, dtype=np.int64)
    found = np.zeros(P, dtype=bool)
    for k in range(cfg.border_scan_lines):
        valid = (k < n_per) & ~found & ~tool_page
        idx = np.minimum(firsts + k, max(n - 1, 0))
        hit = valid & (is_banner[idx] if n else False)
        lo[hit] = k + 1
        found |= hit
    hi = n_per.astype(np.int64).copy()
    foundf = np.zeros(P, dtype=bool)
    fstart = np.maximum(lo, n_per - cfg.border_scan_lines)
    for k in range(cfg.border_scan_lines):
        pos = fstart + k
        valid = (pos < n_per) & ~foundf & ~tool_page
        idx = np.minimum(firsts + pos, max(n - 1, 0))
        hit = valid & (is_footer[idx] if n else False)
        hi[hit] = pos[hit]
        foundf |= hit

    active = ~tool_page[page] & (rel >= lo[page]) & (rel < hi[page])

    # §3 fence toggle: per-page exclusive prefix parity of fence marks
    fm = is_fence_marker & active
    in_fence_before = (page_excl(fm) % 2).astype(bool)

    # §4 agreement gate per page
    classifiable = active & ~fm & ~in_fence_before
    n_cl = np.bincount(page[classifiable], minlength=P)
    agree = np.bincount(page[classifiable & (cls_a == cls_b)], minlength=P)
    ratio = np.where(n_cl > 0, 100.0 * agree / np.maximum(n_cl, 1), 100.0)
    used_b = ratio <= cfg.binarize_retry_threshold
    cls = np.where(used_b[page], cls_b, cls_a).astype(np.int8)
    cls[active & in_fence_before & ~fm] = C_TOOL
    cls[fm] = C_FENCE

    # §5t table-separator fusion (J5 analog, eynollah.py:1783-1817):
    # a separator line directly between two table lines joins the
    # table, so interleaved runs union and the absorbed rule line no
    # longer advances the band counter
    if cfg.enable_tables:
        is_sep_l = active & (cls == C_SEP)
        prev_tab = np.zeros(n, dtype=bool)
        next_tab = np.zeros(n, dtype=bool)
        if n > 1:
            prev_tab[1:] = (cls[:-1] == C_TABLE) & active[:-1] & (page[1:] == page[:-1])
            next_tab[:-1] = (cls[1:] == C_TABLE) & active[1:] & (page[1:] == page[:-1])
        cls[is_sep_l & prev_tab & next_tab] = C_TABLE

    # §5c blank bridging (gated; F3 closing analog,
    # utils/__init__.py:1363-1393): a SINGLE blank line between two
    # same-class run-forming lines (text/marginalia/table, same page,
    # both active) relabels to that class; candidates are computed
    # simultaneously over the original classes, so a relabel never
    # enables another
    if cfg.region_blank_bridge and n > 2:
        bl = active & (cls == C_BLANK)
        prevc = cls[:-2]
        bridgeable = (prevc == cls[2:]) & (
            (prevc == C_TEXT) | (prevc == C_MARG) | (prevc == C_TABLE)
        )
        cand = np.zeros(n, dtype=bool)
        cand[1:-1] = (
            bl[1:-1]
            & active[:-2]
            & active[2:]
            & (page[:-2] == page[2:])
            & bridgeable
        )
        if cand.any():
            ci = np.flatnonzero(cand)
            cls[ci] = cls[ci - 1]

    # §5a bands: the gap-th consecutive blank and every separator line
    # advance the band counter for LATER lines (exclusive prefix)
    blank = active & (cls == C_BLANK)
    idx_arr = np.arange(n, dtype=np.int64)
    barrier = np.where(~blank, idx_arr, -1)
    if n:
        fz = firsts[nz]
        barrier[fz] = np.where(blank[fz], fz - 1, barrier[fz])
    run_len = idx_arr - np.maximum.accumulate(barrier)
    band_event = (blank & (run_len == cfg.band_blank_gap)) | (
        active & (cls == C_SEP)
    )
    band = page_excl(band_event)

    # §5b region runs: maximal adjacent same-label runs of region lines;
    # header/dropcap/separator lines are singleton regions
    regline = active & (cls != C_BLANK) & (cls != C_FENCE)
    singleton = regline & (
        (cls == C_HEADER) | (cls == C_DROPCAP) | (cls == C_SEP)
    )
    prev_ok = np.zeros(n, dtype=bool)
    if n > 1:
        prev_ok[1:] = (
            (page[1:] == page[:-1])
            & regline[:-1]
            & ~singleton[:-1]
            & ~singleton[1:]
            & (cls[1:] == cls[:-1])
        )
    new_region = regline & ~prev_ok
    starts = np.flatnonzero(new_region)
    if len(starts):
        rid = np.cumsum(new_region) - 1
        counts = np.bincount(rid[regline], minlength=len(starts))
    else:
        counts = np.zeros(0, dtype=np.int64)
    r_lo = np.searchsorted(starts, offsets[:-1])
    r_hi = np.searchsorted(starts, offsets[1:])

    # §5h per-region header majority vote (J8 analog,
    # utils/__init__.py:799-858): a short TEXT region whose MODEL-B
    # (binarized — the dedicated header model analog) header-line
    # character mass reaches its text mass relabels to ONE header
    # region (full-layout mode only). Segment reductions over the runs.
    reg_label = cls[starts]
    if cfg.full_layout and len(starts):
        hline = np.where(cls_b == C_HEADER, s_len, 0)
        hmass = _seg_reduce(np.add, hline, starts, counts)
        allmass = _seg_reduce(np.add, s_len, starts, counts)
        maxlen = _seg_reduce(np.maximum, s_len, starts, counts)
        vote = (
            (reg_label == C_TEXT)
            & (counts <= cfg.header_vote_max_lines)
            & (maxlen <= cfg.header_max_len)
            & (hmass > 0)
            & (2 * hmass >= allmass)
        )
        reg_label[vote] = C_HEADER

    # ---- §6/§6d block gutters: every eligible TEXT block, straight or
    # skewed and of any width, is profiled in batched UTF-32 grid
    # chunks. Only blocks WITH gutters are cached: block start ->
    # (shifts, sheared profile, gutters). A skewed block whose shear
    # finds nothing emits exactly as unsheared (SPEC §6d).
    r_page = page[starts]
    gutter_cache: dict[int, tuple] = {}
    eligible = np.flatnonzero(
        (reg_label == C_TEXT) & (counts >= cfg.min_block_lines) & ~tool_page[r_page]
    )
    if len(eligible):
        st_e = starts[eligible].astype(np.int64)
        cn_e = counts[eligible].astype(np.int64)
        wb = _seg_reduce(np.maximum, raw_len, st_e, cn_e)
        # vectorized LS-slope gate (SPEC §6d): A/B per block
        sy = _seg_reduce(np.add, lstr_len, st_e, cn_e)
        sgy = _seg_reduce(np.add, np.arange(n, dtype=np.int64) * lstr_len, st_e, cn_e)
        sky = sgy - st_e * sy
        sk = cn_e * (cn_e - 1) // 2
        sk2 = (cn_e - 1) * cn_e * (2 * cn_e - 1) // 6
        A_e = cn_e * sky - sk * sy
        B_e = cn_e * sk2 - sk * sk
        skewed = (B_e > 0) & (np.abs(A_e) >= cfg.slope_threshold * B_e)
        # recompute oversized blocks' gate with Python's arbitrary-
        # precision ints — same arithmetic as the oracle. Two wrap
        # routes: B_e ~ cn^4/12 (cn bound) and A_e <= ~1.5*cn^2*sum(leads)
        # (pathological indents); the float test is conservative with
        # 3x headroom under 2^63
        unsafe = (cn_e.astype(np.float64) ** 2 * sy.astype(np.float64)) > 3.0e18
        exact_ab: dict[int, tuple] = {}
        for j in np.flatnonzero((cn_e > _LS_GATE_MAX_LINES) | unsafe).tolist():
            A, B = _ls_slope_int(lstr_len[st_e[j] : st_e[j] + cn_e[j]].tolist())
            skewed[j] = B > 0 and abs(A) >= cfg.slope_threshold * B
            exact_ab[j] = (A, B)  # int64 A_e/B_e may have wrapped

        grid_e = np.flatnonzero(wb > 0)
        for a, b in _grid_chunks(cn_e[grid_e], wb[grid_e]):
            sel = grid_e[a:b]
            cn_s = cn_e[sel]
            W = int(wb[sel].max())
            li = _line_ids(st_e[sel], cn_s)
            # per-block column sums via ONE bincount over the ink
            # coordinates; the same coordinates feed the shear grid
            rows_nz, cols_nz = np.nonzero(_ink_grid(lines_np, raw_len, li, W))
            blk_nz = np.repeat(np.arange(len(sel), dtype=np.int64), cn_s)[rows_nz]
            prof_all = np.bincount(
                blk_nz * W + cols_nz, minlength=len(sel) * W
            ).reshape(len(sel), W)
            unsheared = ~skewed[sel]
            sheared = []  # (chunk row, shifts, sheared profile)
            sk_rows = np.flatnonzero(skewed[sel]).tolist()
            if sk_rows:
                reg_first = np.cumsum(cn_s) - cn_s
                specs = []
                for jj in sk_rows:
                    j = int(sel[jj])
                    rf, nl = int(reg_first[jj]), int(cn_s[jj])
                    lo_nz, hi_nz = np.searchsorted(blk_nz, [jj, jj + 1])
                    A, B = exact_ab.get(j, (int(A_e[j]), int(B_e[j])))
                    specs.append((
                        A, B, raw_len[li[rf : rf + nl]],
                        rows_nz[lo_nz:hi_nz] - rf, cols_nz[lo_nz:hi_nz],
                    ))
                for jj, res in zip(sk_rows, _choose_shear_batch(specs, cfg)):
                    if res is None:
                        unsheared[jj] = True
                    else:
                        sheared.append((jj, res[1], res[2]))
            rows = np.flatnonzero(unsheared)
            found = zip(
                rows.tolist(),
                _select_gutters_batch(prof_all[rows], wb[sel[rows]], cfg),
            )
            for jj, g in found:
                if g:
                    gutter_cache[int(st_e[sel[jj]])] = (None, None, g)
            if sheared:
                wp = [len(pr) for _jj, _sh, pr in sheared]
                pgrid = np.zeros((len(sheared), max(wp)), dtype=np.int64)
                for r, (_jj, _sh, pr) in enumerate(sheared):
                    pgrid[r, : len(pr)] = pr
                for (jj, sh, pr), g in zip(
                    sheared, _select_gutters_batch(pgrid, wp, cfg)
                ):
                    if g:
                        gutter_cache[int(st_e[sel[jj]])] = (sh, pr, g)
    complex_page = np.zeros(P, dtype=bool)
    complex_page[page[list(gutter_cache)]] = True

    # ---- §6p page columns (return_boxes_of_images_by_order_of_reading_
    # new analog, utils/__init__.py:1599-2255): a complex page with >= 2
    # text blocks detects gutters over the UNION ink profile of its
    # text-block lines, batched per chunk of pages. A page with page
    # gutters is in page-column mode: page -> (text width, gutters)
    page_cols: dict[int, tuple] = {}
    txt_r = np.flatnonzero((reg_label == C_TEXT) & complex_page[r_page])
    txt_r = txt_r[np.bincount(r_page[txt_r], minlength=P)[r_page[txt_r]] >= 2]
    if len(txt_r):
        st_r, cn_r, pg_r = starts[txt_r], counts[txt_r], r_page[txt_r]
        upage, ufirst = np.unique(pg_r, return_index=True)
        pw = np.maximum.reduceat(_seg_reduce(np.maximum, raw_len, st_r, cn_r), ufirst)
        ubound = np.append(ufirst, len(pg_r))
        for a, b in _grid_chunks(np.add.reduceat(cn_r, ufirst), pw):
            rs = slice(ubound[a], ubound[b])
            W = int(pw[a:b].max())
            li = _line_ids(st_r[rs], cn_r[rs])
            rows_nz, cols_nz = np.nonzero(_ink_grid(lines_np, raw_len, li, W))
            slot = np.repeat(np.searchsorted(upage[a:b], pg_r[rs]), cn_r[rs])
            prof = np.bincount(
                slot[rows_nz] * W + cols_nz, minlength=(b - a) * W
            ).reshape(b - a, W)
            found = zip(
                upage[a:b].tolist(),
                pw[a:b].tolist(),
                _select_gutters_batch(prof, pw[a:b], cfg),
            )
            for p, w, g in found:
                if g:
                    page_cols[p] = (w, g)
    pm_page = np.zeros(P, dtype=bool)
    pm_page[list(page_cols)] = True
    if page_cols:
        # §6p band recompute: a separator whose ink stays inside ONE
        # page column (mother/child containment, utils/__init__.py:
        # 213-297) no longer advances the band counter
        local = np.zeros(n, dtype=bool)
        for i in np.flatnonzero(pm_page[page] & active & (cls == C_SEP)).tolist():
            g1 = [g[1] for g in page_cols[int(page[i])][1]]
            a = lstr_len[i]
            local[i] = np.searchsorted(g1, a) == np.searchsorted(g1, a + s_len[i] - 1)
        band = band - page_excl(local)

    # ---- emission: pages without column splits (~99%) and tool pages
    # (one pseudo-region of all lines) run the fully vectorized
    # _emit_fast; column pages (block gutters or §6p page columns) run
    # _emit_cols. Both finish in the shared _emit_core engine.
    fr = ~complex_page[r_page] & ~tool_page[r_page]
    tp = np.flatnonzero(tool_page & (n_per > 0))
    parts = [
        _emit_fast(
            np.concatenate([starts[fr], firsts[tp]]),
            np.concatenate([counts[fr], n_per[tp]]),
            np.concatenate([reg_label[fr], np.full(len(tp), C_TOOL, np.int8)]),
            np.concatenate([band[starts[fr]], np.zeros(len(tp), np.int64)]),
            np.concatenate([r_page[fr], tp]),
            stripped_np, line_start + lstr_len, s_len, lstr_len, cfg,
        )
    ]
    if complex_page.any():
        parts.append(_emit_cols(
            np.flatnonzero(complex_page), r_lo, r_hi, starts, counts,
            reg_label, band, lines_np, stripped_np, line_start, lstr_len,
            s_len, raw_len, gutter_cache, page_cols, pm_page, cfg,
        ))
    parts = [p for p in parts if p is not None]

    if want_diag:
        # SPEC §11 per-page reductions over the same emission
        n_spans = np.zeros(P, dtype=np.int64)
        n_regions = np.zeros(P, dtype=np.int64)
        for p in parts:
            n_spans += np.bincount(p["page"], minlength=P)
            np.maximum.at(n_regions, p["page"], p["region_seq"] + 1)
        max_cols = np.ones(P, dtype=np.int64)
        for st, (_sh, _pr, g) in gutter_cache.items():
            t = int(page[st])
            max_cols[t] = max(max_cols[t], len(g) + 1)
        for t, (_w, g) in page_cols.items():
            max_cols[t] = len(g) + 1
        # the slope fit pools the TEXT blocks NOT split into columns
        fit = (
            (reg_label == C_TEXT)
            & ~tool_page[r_page]
            & ~pm_page[r_page]
            & ~np.isin(starts, list(gutter_cache))
        )
        slope = _pooled_slopes(starts[fit], counts[fit], r_page[fit], lstr_len, P)
        out = pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].to_numpy(),
                "turn_idx": pdf["turn_idx"].to_numpy(),
                "n_lines": n_per,
                "n_spans": n_spans,
                "n_regions": n_regions,
                "max_columns": max_cols,
                "slope": slope,
                "is_deskewed": np.abs(slope) >= cfg.slope_threshold,
                # tool pages keep the constant row of SPEC §1
                "agreement_ratio": np.where(tool_page, 100.0, ratio),
                "used_binarized": used_b & ~tool_page,
                "was_enhanced": was_enh,
            }
        )
        return out

    conv_vals = pdf["conv_id"].to_numpy()
    turn_vals = pdf["turn_idx"].to_numpy()
    frames = [
        pd.DataFrame(
            {
                "conv_id": conv_vals[p["page"]],
                "turn_idx": turn_vals[p["page"]],
                **{c: p[c] for c in SPAN_COLUMNS},
            }
        )
        for p in parts
    ]
    if as_parts:
        return [(p["page"], f) for p, f in zip(parts, frames)]
    if len(frames) == 1:
        return frames[0]
    if frames:
        return pd.concat(frames, ignore_index=True)
    return pd.DataFrame(
        {
            "conv_id": pd.Series([], dtype="object"),
            "turn_idx": pd.Series([], dtype="int64"),
            "span_idx": pd.Series([], dtype="int64"),
            "region_type": pd.Series([], dtype="object"),
            "region_seq": pd.Series([], dtype="int64"),
            "char_start": pd.Series([], dtype="int64"),
            "char_end": pd.Series([], dtype="int64"),
            "text": pd.Series([], dtype="object"),
        }
    )


# cell budget of one batched profile grid chunk (rows x max width)
_GRID_CELLS = 16384 * 192


def _grid_chunks(rows, widths):
    """Yield (lo, hi) bounds of consecutive items whose row total times
    maximum width stays within _GRID_CELLS (at least one item each)."""
    lo = tot = wmax = 0
    for i, (r, w) in enumerate(zip(rows.tolist(), widths.tolist())):
        if i > lo and (tot + r) * max(wmax, w) > _GRID_CELLS:
            yield lo, i
            lo, tot, wmax = i, 0, 0
        tot += r
        wmax = max(wmax, w)
    if lo < len(rows):
        yield lo, len(rows)


def _seg_reduce(ufunc, values, st, cn):
    """``ufunc.reduceat`` over the line segments [st, st + cn), cn >= 1;
    the sentinel pad keeps st + cn == len(values) a legal index."""
    idx = np.empty(2 * len(st), dtype=np.int64)
    idx[0::2] = st
    idx[1::2] = st + cn
    return ufunc.reduceat(np.concatenate([values, np.zeros(1, values.dtype)]), idx)[0::2]


def _line_ids(st, cn):
    """Concatenated line indices of the segments [st, st + cn)."""
    first = np.cumsum(cn) - cn
    return np.repeat(st - first, cn) + np.arange(int(cn.sum()), dtype=np.int64)


def _ink_grid(lines_np, raw_len, li, W):
    """(len(li), W) ink mask of lines ``li``: char != ' ' inside the
    line. A NUL character is ink; the padding past a line's end is not."""
    grid = lines_np[li].astype(f"U{W}").view(np.uint32).reshape(len(li), W)
    return (grid != 32) & (np.arange(W, dtype=np.int64)[None, :] < raw_len[li][:, None])


def _pooled_slopes(st, cn, pg, lead, P):
    """SPEC §11 deskew slope per page: least-squares slope of leading
    indent vs line index within its block, pooled over the blocks
    (st, cn) of page pg (cv2.fitLine analog, utils/__init__.py:331-332);
    0.0 below 2 lines or at zero variance. Pages with equal line counts
    share (m, N) row reductions, which numpy sums per row exactly as it
    sums a 1-D array of the same values."""
    slope = np.zeros(P, dtype=np.float64)
    li = _line_ids(st, cn)
    x = (np.arange(len(li)) - np.repeat(np.cumsum(cn) - cn, cn)).astype(np.float64)
    y = lead[li].astype(np.float64)
    cnt = np.bincount(np.repeat(pg, cn), minlength=P)
    first = np.cumsum(cnt) - cnt
    for N in np.unique(cnt[cnt >= 2]).tolist():
        ps = np.flatnonzero(cnt == N)
        idx = first[ps][:, None] + np.arange(N)
        ax, ay = x[idx], y[idx]
        dx = ax - (ax.sum(axis=1) / N)[:, None]
        var = (dx * dx).sum(axis=1)
        cov = (dx * (ay - (ay.sum(axis=1) / N)[:, None])).sum(axis=1)
        pos = var > 0
        slope[ps[pos]] = cov[pos] / var[pos]
    return slope


# reading-order type group per line class (SPEC §7)
_TG_LUT = np.full(16, 9, dtype=np.int8)
_TG_LUT[C_HEADER] = 0
_TG_LUT[C_TEXT] = 1
_TG_LUT[C_TOOL] = 1
_TG_LUT[C_TABLE] = 1
_TG_LUT[C_DROPCAP] = 1
_TG_LUT[C_MARG] = 2
_TG_LUT[C_SEP] = 3


def _emit_core(lb, pg, bd, rl, cs, ce, texts, spn_len, cola, colb, cfg):
    """The span-emission engine, SPEC §§8-10 over ORDERED regions and
    their span arrays: the §8 drop-capital merge, the §9L curved-line
    split and the §9 overlap-argmax fragment adherence run as array
    patches, span-less regions vanish, regions and spans number per
    page — numpy throughout except the (rare) per-patch loops. Returns
    the span columns plus each span's page index ("page"), or None.

    Per-region (in final reading order): lb (class codes), pg (page
    ids, ascending), bd (bands). Per-span (grouped by region, ascending
    rl, reading order within region): cs/ce/texts/spn_len plus the §9
    column range cola/colb (profile coordinates). All span arrays must
    be writable copies — §8/§9 patch them in place."""
    R = len(lb)
    if len(rl) == 0:
        return None
    kept_per_region = np.bincount(rl, minlength=R)

    # §8 drop-capital merge: a dropcap whose next non-empty region (in
    # final order) is a TEXT region of the same page+band folds its
    # char onto that region's first span; the dropcap region vanishes
    merged_src: dict[int, int] = {}
    dc_idx = np.flatnonzero(lb == C_DROPCAP)
    for i in dc_idx:
        if kept_per_region[i] == 0:
            continue  # span-less dropcap: absent from the region list
        j = i + 1
        while j < R and kept_per_region[j] == 0:
            j += 1
        if (
            j < R
            and pg[j] == pg[i]
            and lb[j] == C_TEXT
            and bd[j] == bd[i]
        ):
            merged_src[int(j)] = int(i)
    if merged_src:
        dc_first = {}
        dropped = np.zeros(R, dtype=bool)
        for j, i in merged_src.items():
            dropped[i] = True
            p = int(np.searchsorted(rl, i))
            dc_first[j] = (cs[p], texts[p], spn_len[p])
        m = ~dropped[rl]
        rl = rl[m]
        cs = cs[m]
        ce = ce[m]
        texts = texts[m]
        spn_len = spn_len[m]
        cola = cola[m]
        colb = colb[m]
        kept_per_region = np.bincount(rl, minlength=R)
        if len(rl) == 0:
            return None
        for j, (dcs, dtext, dlen) in dc_first.items():
            pos = int(np.searchsorted(rl, j))
            texts[pos] = dtext + texts[pos]
            cs[pos] = dcs
            spn_len[pos] += dlen

    # §9L curved-line split (-cl mode): long TEXT-region spans subdivide
    # at the valleys of their own ink profile, before §9 adherence. A
    # region whose split leaves fragments only is frozen: it keeps its
    # unsplit spans and skips §9 adherence.
    frozen = np.zeros(R, dtype=bool)
    if cfg.enable_line_split:
        pieces = {}
        long_spans = (spn_len >= cfg.line_split_min_len) & (lb[rl] == C_TEXT)
        for p in np.flatnonzero(long_spans).tolist():
            sp = (int(cs[p]), int(ce[p]), texts[p], int(cola[p]), int(colb[p]))
            got = _split_long_spans([sp], cfg)
            if len(got) > 1:
                pieces[p] = got
        if pieces:
            big = spn_len > cfg.small_fragment_max_len
            for p, got in pieces.items():
                big[p] = any(b - a > cfg.small_fragment_max_len for a, b, *_ in got)
            frozen[rl[list(pieces)]] = True
            frozen[rl[big]] = False
            pieces = {p: got for p, got in pieces.items() if not frozen[rl[p]]}
        if pieces:
            rep = np.ones(len(rl), dtype=np.int64)
            rep[list(pieces)] = [len(got) for got in pieces.values()]
            at = np.cumsum(rep) - rep
            rl, cs, ce, texts, spn_len, cola, colb = (
                np.repeat(a, rep) for a in (rl, cs, ce, texts, spn_len, cola, colb)
            )
            for p, got in pieces.items():
                for q, (a, b, text, ca, cb) in enumerate(got, int(at[p])):
                    cs[q], ce[q], texts[q], cola[q], colb[q] = a, b, text, ca, cb
                    spn_len[q] = b - a

    # §9 overlap-argmax fragment adherence (SPEC §9), as a patch over
    # the span arrays: fragments in TEXT regions merge into the big
    # span with maximal column overlap (ties: index-nearest, then
    # earliest); fragment spans are then excluded before numbering.
    # The merged dropcap span keeps the TARGET's column range (cola/
    # colb are never patched), as in the oracle.
    drop_span = np.zeros(len(rl), dtype=bool)
    frag_mask = (
        (spn_len <= cfg.small_fragment_max_len) & (lb[rl] == C_TEXT) & ~frozen[rl]
    )
    if frag_mask.any():
        uregs = np.unique(rl[frag_mask])
        ua0 = np.searchsorted(rl, uregs)
        ua1 = np.searchsorted(rl, uregs, side="right")
        for a0, a1 in zip(ua0.tolist(), ua1.tolist()):
            k = a1 - a0
            sl = spn_len[a0:a1]
            fa = cola[a0:a1]
            fe = colb[a0:a1]
            is_frag = sl <= cfg.small_fragment_max_len
            bigs = [x for x in range(k) if not is_frag[x]]
            if not bigs:
                continue  # fragment-only region keeps its spans
            pre = {x: [] for x in bigs}
            suf = {x: [] for x in bigs}
            for j in range(k):
                if not is_frag[j]:
                    continue
                best, bo, bdist = bigs[0], -1, None
                for x in bigs:
                    ov = max(0, int(min(fe[j], fe[x])) - int(max(fa[j], fa[x])))
                    dist = abs(j - x)
                    if ov > bo or (ov == bo and dist < bdist):
                        best, bo, bdist = x, ov, dist
                (pre if j < best else suf)[best].append(j)
                drop_span[a0 + j] = True
            for x in bigs:
                if not pre[x] and not suf[x]:
                    continue
                pos = a0 + x
                if pre[x]:
                    texts[pos] = (
                        " ".join(texts[a0 + p] for p in pre[x]) + " " + texts[pos]
                    )
                    cs[pos] = cs[a0 + pre[x][0]]
                if suf[x]:
                    texts[pos] = (
                        texts[pos] + " " + " ".join(texts[a0 + p] for p in suf[x])
                    )
                    ce[pos] = ce[a0 + suf[x][-1]]
        if drop_span.any():
            m = ~drop_span
            rl = rl[m]
            cs = cs[m]
            ce = ce[m]
            texts = texts[m]
            kept_per_region = np.bincount(rl, minlength=R)
            if len(rl) == 0:
                return None

    # regions with zero surviving spans vanish before numbering
    ne = np.flatnonzero(kept_per_region > 0)
    pg_ne = pg[ne]
    seq_ne = np.arange(len(ne), dtype=np.int64) - np.searchsorted(pg_ne, pg_ne)
    region_seq = np.zeros(R, dtype=np.int64)
    region_seq[ne] = seq_ne

    span_page = pg[rl]
    span_idx = np.arange(len(rl), dtype=np.int64) - np.searchsorted(span_page, span_page)

    rt_lut = np.empty(16, dtype=object)
    for code, rt in _CODE_RT.items():
        rt_lut[code] = rt
    rt_lut[C_DROPCAP] = RT_DROPCAP  # unmerged dropcaps keep the spec type
    return {
        "page": span_page,
        "span_idx": span_idx,
        "region_type": rt_lut[lb[rl]],
        "region_seq": region_seq[rl],
        "char_start": cs,
        "char_end": ce,
        "text": texts,
    }


def _emit_fast(
    fr_start, fr_count, fr_label, fr_band, fr_page,
    strp_np, cstart, s_len, lead, cfg,
):
    """Fully vectorized front end of ``_emit_core`` for column-free
    regions: sort regions by (page, band, type-group, first_line) and
    derive one span per non-blank line."""
    order = np.lexsort((fr_start, _TG_LUT[fr_label], fr_band, fr_page))
    cn = fr_count[order].astype(np.int64)
    line_ids = _line_ids(fr_start[order].astype(np.int64), cn)
    keep = s_len[line_ids] > 0
    li = line_ids[keep]
    if len(li) == 0:
        return None
    rl = np.repeat(np.arange(len(cn), dtype=np.int64), cn)[keep]
    cs = cstart[li]
    spn = s_len[li].copy()
    return _emit_core(
        fr_label[order], fr_page[order].astype(np.int64),
        fr_band[order].astype(np.int64), rl,
        cs.copy(), cs + spn, strp_np[li], spn,
        lead[li], lead[li] + spn, cfg,
    )


def _emit_cols(
    pages, r_lo, r_hi, starts, counts, r_label, band,
    lines_np, stripped_np, line_start, lstr_len, s_len, raw_len,
    gutter_cache, page_cols, pm_page, cfg,
):
    """Front end of ``_emit_core`` for COLUMN pages (SPEC §6 column
    split, §6m marginalia, §6p page columns).

    On a page in §6p page-column mode every TEXT region splits by the
    page gutters (width = page text width, no shear) and every other
    region sits in the page column holding its first ink; elsewhere
    TEXT regions with block gutters split by those. Guttered regions
    expand into per-column sub-regions; the column piece trim runs as
    ONE batched searchsorted over the chunk-gridded non-whitespace
    coordinates (exact ``str.strip()`` parity via _WS_LUT); plain
    regions reuse the line-span arrays. Regions order by (page, band,
    type-group, first, col), or column-major (page, col, band,
    type-group, first) on page-column pages."""
    K = 1 + int(raw_len.max()) if len(raw_len) else 1

    # --- region tables: plain regions (one row) vs guttered text ---
    rg_lab, rg_bd, rg_first, rg_col, rg_pg = [], [], [], [], []
    a_start, a_count = [], []  # plain regions, parallel to their rows
    gregs = []  # (start, count, shifts, gutters, w, band, page)
    for t in pages.tolist():
        pm = page_cols.get(t)
        for r in range(r_lo[t], r_hi[t]):
            st_r = int(starts[r])
            cn_r = int(counts[r])
            lab = int(r_label[r])
            bd_r = int(band[st_r])
            if lab == C_TEXT and pm is not None:
                gregs.append((st_r, cn_r, None, pm[1], pm[0], bd_r, t))
                continue
            ent = gutter_cache.get(st_r) if lab == C_TEXT else None
            if ent is not None:
                shifts, sh_prof, gutters = ent
                if shifts is not None:
                    w = len(sh_prof)
                else:
                    w = int(raw_len[st_r : st_r + cn_r].max())
                gregs.append((st_r, cn_r, shifts, gutters, w, bd_r, t))
                continue
            rg_lab.append(lab)
            rg_bd.append(bd_r)
            rg_first.append(st_r)
            # page column: the number of page gutters left of the first ink
            lead = lstr_len[st_r]
            rg_col.append(0 if pm is None else sum(g1 < lead for _g0, g1 in pm[1]))
            rg_pg.append(t)
            a_start.append(st_r)
            a_count.append(cn_r)

    # --- guttered regions: batched column piece extraction ---------------
    pair_meta = []  # per (region, col): (greg_ord, col, a, b)
    if gregs:
        g_start = np.asarray([g[0] for g in gregs], dtype=np.int64)
        g_count = np.asarray([g[1] for g in gregs], dtype=np.int64)
        g_lineoff = np.cumsum(g_count) - g_count
        Lg = int(g_count.sum())
        li_g = _line_ids(g_start, g_count)
        shift_flat = np.zeros(Lg, dtype=np.int64)
        for go, (st_r, cn_r, shifts, _g, _w, _b, _t) in enumerate(gregs):
            if shifts is not None:
                off = int(g_lineoff[go])
                shift_flat[off : off + cn_r] = np.asarray(shifts, dtype=np.int64)
        # chunked non-whitespace coordinates (line-major => sorted keys)
        key_chunks = []
        pos = 0
        while pos < Lg:
            end = min(pos + 16384, Lg)
            sel = li_g[pos:end]
            Wc = int(raw_len[sel].max()) if end > pos else 0
            if Wc > 0:
                grid = (
                    lines_np[sel]
                    .astype(f"U{Wc}")
                    .view(np.uint32)
                    .reshape(end - pos, Wc)
                )
                valid = (
                    np.arange(Wc, dtype=np.int64)[None, :]
                    < raw_len[sel][:, None]
                )
                nonws = valid & ~_WS_LUT[np.where(grid <= 0x3000, grid, 0)]
                rows_nz, cols_nz = np.nonzero(nonws)
                key_chunks.append((rows_nz + pos) * K + cols_nz)
            pos = end
        flat_keys = (
            np.concatenate(key_chunks) if key_chunks else np.zeros(0, np.int64)
        )
        # (region, col) pairs, col-ascending per region
        for go, (_st, _cn, _sh, gutters, w, _b, _t) in enumerate(gregs):
            prev = 0
            for g0, g1 in gutters:
                pair_meta.append((go, len(pair_meta), prev, g0))
                prev = g1 + 1
            pair_meta.append((go, len(pair_meta), prev, w))
        pr_greg = np.asarray([p[0] for p in pair_meta], dtype=np.int64)
        pr_a = np.asarray([p[2] for p in pair_meta], dtype=np.int64)
        pr_b = np.asarray([p[3] for p in pair_meta], dtype=np.int64)
        # (pair, line) triples: window searchsorted over the flat keys
        tri_cnt = g_count[pr_greg]
        tri_first = np.cumsum(tri_cnt) - tri_cnt
        n_tri = int(tri_cnt.sum())
        tri_pair = np.repeat(np.arange(len(pair_meta), dtype=np.int64), tri_cnt)
        tri_line = (
            np.repeat(g_lineoff[pr_greg] - tri_first, tri_cnt)
            + np.arange(n_tri, dtype=np.int64)
        )
        sh_t = shift_flat[tri_line]
        base = tri_line * K
        # clamp the window into the line's key slot: a shifted segment
        # end can exceed the widest line (K - 1), and an unclamped key
        # would bleed into the NEXT line's coordinates
        i0 = np.searchsorted(
            flat_keys, base + np.minimum(pr_a[tri_pair] + sh_t, K - 1)
        )
        i1 = np.searchsorted(
            flat_keys, base + np.minimum(pr_b[tri_pair] + sh_t, K - 1)
        )
        has = i1 > i0
        tl_h = tri_line[has]
        s0 = flat_keys[i0[has]] - tl_h * K
        s1 = flat_keys[i1[has] - 1] - tl_h * K
        gl = li_g[tl_h]
        sh_h = sh_t[has]
        lenB = s1 + 1 - s0
        csB = line_start[gl] + s0
        ceB = csB + lenB
        colaB = s0 - sh_h
        colbB = s1 + 1 - sh_h
        textsB = np.empty(len(gl), dtype=object)
        e0 = s0.tolist()
        e1 = (s1 + 1).tolist()
        for x, i in enumerate(gl.tolist()):
            textsB[x] = lines_np[i][e0[x] : e1[x]]
        spB = tri_pair[has]
        pair_nspan = np.bincount(spB, minlength=len(pair_meta))
        pair_maxlen = np.zeros(len(pair_meta), dtype=np.int64)
        np.maximum.at(pair_maxlen, spB, lenB)
        # §6m projection marginalia + sub-region rows (non-empty pairs
        # only, as the oracle's col_entries)
        rel = round(cfg.marginalia_width_frac * 100)
        pair_row = np.full(len(pair_meta), -1, dtype=np.int64)
        p_at = 0
        for go, (_st, _cn, _sh, gutters, w, bd_r, t) in enumerate(gregs):
            n_cols = len(gutters) + 1
            ent = [
                p_at + c for c in range(n_cols) if pair_nspan[p_at + c] > 0
            ]
            n_e = len(ent)
            for idx, p in enumerate(ent):
                rt = C_TEXT
                if n_e >= 2 and (idx == 0 or idx == n_e - 1):
                    wd = int(pr_b[p] - pr_a[p])
                    others = max(
                        int(pr_b[q] - pr_a[q]) for q in ent if q != p
                    )
                    if (
                        wd * 100 <= rel * w
                        and 2 * wd <= others
                        and pair_maxlen[p] <= cfg.marginalia_max_len
                    ):
                        rt = C_MARG
                pair_row[p] = len(rg_lab)
                rg_lab.append(rt)
                rg_bd.append(bd_r)
                rg_first.append(int(_st))
                rg_col.append(int(p - p_at))
                rg_pg.append(t)
            p_at += n_cols

    if not rg_lab:
        return None
    lb0 = np.asarray(rg_lab, dtype=np.int8)
    bd0 = np.asarray(rg_bd, dtype=np.int64)
    fi0 = np.asarray(rg_first, dtype=np.int64)
    co0 = np.asarray(rg_col, dtype=np.int64)
    pg0 = np.asarray(rg_pg, dtype=np.int64)
    tg0 = _TG_LUT[lb0]
    pm = pm_page[pg0]
    order = np.lexsort((
        np.where(pm, fi0, co0),
        np.where(pm, tg0, fi0),
        np.where(pm, bd0, tg0),
        np.where(pm, co0, bd0),
        pg0,
    ))
    new_of_old = np.empty(len(rg_lab), dtype=np.int64)
    new_of_old[order] = np.arange(len(rg_lab), dtype=np.int64)

    # span table (construction order), then ONE stable argsort groups
    # spans under their ordered region — no per-region Python loop.
    # Plain-region line spans via the same repeat trick as _emit_fast:
    if a_start:
        stA = np.asarray(a_start, dtype=np.int64)
        cnA = np.asarray(a_count, dtype=np.int64)
        regfA = np.cumsum(cnA) - cnA
        totA = int(cnA.sum())
        lidA = np.repeat(stA - regfA, cnA) + np.arange(totA, dtype=np.int64)
        rowA = np.repeat(np.arange(len(stA), dtype=np.int64), cnA)
        keepA = s_len[lidA] > 0
        ids = lidA[keepA]
        rlA = new_of_old[rowA[keepA]]  # plain rows are ids 0..nA-1
        c0 = line_start[ids] + lstr_len[ids]
        lnA = s_len[ids]
        csA_, ceA_, txA_ = c0, c0 + lnA, stripped_np[ids]
        caA_, cbA_ = lstr_len[ids], lstr_len[ids] + lnA
    else:
        z = np.zeros(0, dtype=np.int64)
        rlA = csA_ = ceA_ = lnA = caA_ = cbA_ = z
        txA_ = np.zeros(0, dtype=object)
    if gregs and len(spB):
        rlB = new_of_old[pair_row[spB]]
        sp_rl = np.concatenate([rlA, rlB])
        sp_cs = np.concatenate([csA_, csB])
        sp_ce = np.concatenate([ceA_, ceB])
        sp_tx = np.concatenate([txA_, textsB])
        sp_ln = np.concatenate([lnA, lenB])
        sp_ca = np.concatenate([caA_, colaB])
        sp_cb = np.concatenate([cbA_, colbB])
    else:
        sp_rl, sp_cs, sp_ce, sp_tx = rlA, csA_, ceA_, txA_
        sp_ln, sp_ca, sp_cb = lnA, caA_, cbA_
    if len(sp_rl) == 0:
        return None
    sorder = np.argsort(sp_rl, kind="stable")
    return _emit_core(
        lb0[order], pg0[order], bd0[order],
        sp_rl[sorder], sp_cs[sorder].copy(), sp_ce[sorder].copy(),
        sp_tx[sorder], sp_ln[sorder].copy(), sp_ca[sorder], sp_cb[sorder],
        cfg,
    )


# region-type string for each line class that can open a region
_CODE_RT = {
    C_TEXT: RT_TEXT,
    C_TABLE: RT_TABLE,
    C_TOOL: RT_TOOL,
    C_MARG: RT_MARGINALIA,
    C_HEADER: RT_HEADER,
    C_DROPCAP: "dropcap",
    C_SEP: RT_SEPARATOR,
}


def _split_long_spans(spans, cfg: ExtractConfig):
    """SPEC §9L curved-line splitting (-cl mode analog,
    separate_lines.py:128-673): long spans subdivide at the smoothed
    VALLEYS of their own char-ink profile — the §6 integer-gaussian
    valley machinery run per span, with sigma scaled by span length
    (the data-dependent-sigma analog, separate_lines.py:240-265).
    Only active when cfg.enable_line_split."""
    out = []
    for sp in spans:
        cs, ce, text, ca, cb = sp
        L = len(text)
        if L < cfg.line_split_min_len:
            out.append(sp)
            continue
        sigma = cfg.line_split_sigma * min(
            1 + L // cfg.line_split_scale, cfg.line_split_max_scale
        )
        v = _ink_row(text)
        sm = _smooth_profile(v.astype(np.int64), sigma)
        max_s = int(sm.max()) if L else 0
        cuts = []
        if max_s > 0:
            rel_pct = int(round(cfg.line_split_rel_depth * 100))
            peak_pct = int(round(cfg.gutter_peak_frac * 100))
            p = 0
            while p < L:
                if text[p] == " ":
                    q = p
                    while q + 1 < L and text[q + 1] == " ":
                        q += 1
                    if q - p + 1 >= cfg.line_split_gap:
                        depth = int(sm[p : q + 1].min())
                        if depth * 100 <= rel_pct * max_s:
                            left = int(sm[:p].max()) if p > 0 else 0
                            right = int(sm[q + 1 :].max()) if q + 1 < L else 0
                            if min(left, right) * 100 >= peak_pct * max_s:
                                cuts.append((p, q))
                    p = q + 1
                else:
                    p += 1
        if not cuts:
            out.append(sp)
            continue
        pieces = []
        last_end = 0
        for a, b in cuts:
            if a > last_end:
                pieces.append((last_end, a))
            last_end = b + 1
        if last_end < L:
            pieces.append((last_end, L))
        if len(pieces) <= 1:
            out.append(sp)
            continue
        for a, b in pieces:
            out.append((cs + a, cs + b, text[a:b], ca + a, ca + b))
    return out


# integerized gaussian weights per sigma (shared by spec with the
# oracle: radius int(3s+0.5), w[k] = round(1e6 * exp(-k^2 / 2s^2)))
_GAUSS_CACHE: dict = {}


def _gauss_weights(sigma: float):
    got = _GAUSS_CACHE.get(sigma)
    if got is None:
        import math

        r = int(3.0 * sigma + 0.5)
        got = (
            r,
            [
                round(1_000_000 * math.exp(-(k * k) / (2.0 * sigma * sigma)))
                for k in range(-r, r + 1)
            ],
        )
        _GAUSS_CACHE[sigma] = got
    return got


def _smooth_profile(profile: np.ndarray, sigma: float) -> np.ndarray:
    """Integer gaussian smoothing (gaussian_filter1d analog,
    utils/__init__.py:377-383): zero-padded convolution with the
    integerized kernel — exact arithmetic, so the naive oracle's loop
    produces bit-identical values."""
    r, wts = _gauss_weights(sigma)
    w = len(profile)
    sm = np.zeros(w, dtype=np.int64)
    for k in range(-r, r + 1):
        wt = wts[k + r]
        if k == 0:
            sm += wt * profile
        elif k > 0:
            if k < w:
                sm[: w - k] += wt * profile[k:]
        else:
            if -k < w:
                sm[-k:] += wt * profile[: w + k]
    return sm


def _select_gutters_batch(prof_grid: np.ndarray, widths, cfg: ExtractConfig):
    """SPEC §6 valley machinery (find_num_col + find_peaks analog,
    utils/__init__.py:443-503, separate_lines.py:57-103), batched over
    a (m, W) int64 profile grid whose rows are zero-padded past each
    block's true width: smoothed relative-depth valleys with stray
    tolerance, two-sided prominence and deepest-first suppression.
    Returns one gutter list per row, equal to the oracle's
    ``_select_gutters_naive(prof_grid[r, :widths[r]])`` — the A/B fuzz
    in tests/test_kernel_oracle.py asserts this. All stages (run
    extraction, gaussian smoothing, depth/prominence) run as grid ops;
    only the final W6 per-row suppression walks survivors in Python."""
    m, W = prof_grid.shape
    out: list[list] = [[] for _ in range(m)]
    if m == 0 or W < 2:
        return out
    stray = cfg.gutter_max_stray_lines
    wds = np.asarray(widths, dtype=np.int64)
    colx = np.arange(W, dtype=np.int64)[None, :]
    inw = colx < wds[:, None]
    z = (prof_grid == 0) & inw
    low = (prof_grid <= stray) & inw
    # quick reject: a qualifying run exists only if
    # some zero column has a <= stray neighbor
    cand = ((z[:, :-1] & low[:, 1:]) | (z[:, 1:] & low[:, :-1])).any(axis=1)
    rows = np.flatnonzero(cand)
    if not len(rows):
        return out
    # maximal low-runs per row: pad one False column per row so runs
    # never span row boundaries in the flattened view
    lowp = np.zeros((len(rows), W + 1), dtype=bool)
    lowp[:, :W] = low[rows]
    flat = lowp.reshape(-1)
    d = np.diff(flat.astype(np.int8))
    rstart = np.flatnonzero(d == 1) + 1
    if flat[0]:
        rstart = np.concatenate([np.zeros(1, np.int64), rstart])
    rend = np.flatnonzero(d == -1)  # inclusive run ends (pad col closes all)
    blk = rstart // (W + 1)
    a = rstart - blk * (W + 1)
    b = rend - blk * (W + 1)
    # run filters: width >= 2, contains a zero, center within frac
    # bounds of the block's true width (float compare, as the oracle)
    keep = (b - a) >= 1
    zc = np.cumsum(z[rows], axis=1)
    zin = zc[blk, b] - np.where(a > 0, zc[blk, np.maximum(a - 1, 0)], 0)
    keep &= zin > 0
    mid = (a + b) // 2
    wr = wds[rows]
    keep &= (mid >= cfg.gutter_min_frac * wr[blk]) & (
        mid <= cfg.gutter_max_frac * wr[blk]
    )
    if not keep.any():
        return out
    blk = blk[keep]
    a = a[keep]
    b = b[keep]
    srows = np.unique(blk)  # indices into `rows` that still need smoothing
    rix = np.searchsorted(srows, blk)
    # batched integer gaussian smoothing: beyond-width entries are zero
    # by construction, so convolving the padded row equals the
    # zero-padded convolution on [0, w)
    r, wts = _gauss_weights(cfg.gutter_sigma)
    P = prof_grid[rows[srows]]
    sm = wts[r] * P
    for k in range(1, r + 1):
        if k < W:
            sm[:, : W - k] += wts[r + k] * P[:, k:]
            sm[:, k:] += wts[r - k] * P[:, : W - k]
    sm_in = np.where(colx < wds[rows[srows], None], sm, 0)
    max_s = sm_in.max(axis=1)
    fmax = np.maximum.accumulate(sm_in, axis=1)
    bmax = np.maximum.accumulate(sm_in[:, ::-1], axis=1)[:, ::-1]
    # per-run depth via 1-D reduceat over the flattened smoothed grid
    # (sentinel keeps end == len legal); runs are disjoint and sorted
    sm_flat = np.concatenate([sm_in.reshape(-1), np.zeros(1, np.int64)])
    inter = np.empty(2 * len(a), dtype=np.int64)
    inter[0::2] = rix * W + a
    inter[1::2] = rix * W + b + 1
    depth = np.minimum.reduceat(sm_flat, inter)[0::2]
    left = np.where(a > 0, fmax[rix, np.maximum(a - 1, 0)], 0)
    right = np.where(b + 1 < W, bmax[rix, np.minimum(b + 1, W - 1)], 0)
    ms = max_s[rix]
    rel_pct = int(round(cfg.gutter_rel_depth * 100))
    peak_pct = int(round(cfg.gutter_peak_frac * 100))
    ok = (
        (ms > 0)
        & (depth * 100 <= rel_pct * ms)
        & (np.minimum(left, right) * 100 >= peak_pct * ms)
    )
    if not ok.any():
        return out
    # W6 suppression per row: deepest max_columns-1, positional order
    sel = np.flatnonzero(ok)
    order = np.lexsort((b[sel], a[sel], depth[sel], blk[sel]))
    sel = sel[order]
    kmax = cfg.max_columns - 1
    cur = -1
    taken = 0
    buf: list = []
    for i in sel:
        rblk = int(blk[i])
        if rblk != cur:
            if buf:
                buf.sort()
                out[int(rows[cur])] = buf
            cur = rblk
            taken = 0
            buf = []
        if taken < kmax:
            buf.append((int(a[i]), int(b[i])))
            taken += 1
    if buf:
        buf.sort()
        out[int(rows[cur])] = buf
    return out


def _ls_slope_int(leads) -> tuple[int, int]:
    """Least-squares slope of leading indent vs line index as an exact
    integer fraction (numerator A, denominator B): slope = A/B.
    cv2.fitLine analog (utils/__init__.py:331-332)."""
    n = len(leads)
    sk = n * (n - 1) // 2
    sk2 = (n - 1) * n * (2 * n - 1) // 6
    sy = 0
    sky = 0
    for k in range(n):
        y = int(leads[k])
        sy += y
        sky += k * y
    return n * sky - sk * sy, n * sk2 - sk * sk


def _choose_shear_batch(specs, cfg: ExtractConfig):
    """SPEC §6d deskew shear grid (return_deskew_slop analog,
    separate_lines.py:1605-1646, in 1-D), batched over many blocks.
    Candidates are 0 plus the LS slope's +-0.5/+-0.25 neighborhood;
    each de-indents line k by round(s*k) (normalized to min 0) and
    scores the sheared ink profile's normalized variance; the first
    maximal candidate wins. ``specs`` is a list of (A, B, lens,
    rows_loc, cols_loc) per block — A/B the EXACT integer LS-slope
    fraction (python ints, so sls = A/B is the correctly-rounded
    double), lens the line lengths, rows/cols the length-masked ink
    coordinates. Returns per block (s_star, shifts, sheared profile)
    when |s_star| >= slope_threshold, else None. The candidate grid
    shears through ONE rint, ONE offset bincount and ONE einsum; only
    the 6-way winner comparison (python ints — the rational
    cross-product can exceed int64) walks blocks in Python. A/B-fuzzed
    against the oracle's ``_choose_shear_naive`` in
    tests/test_kernel_oracle.py."""
    nb = len(specs)
    if nb == 0:
        return []
    C = 6
    n_b = np.asarray([len(sp[2]) for sp in specs], dtype=np.int64)
    offs = np.cumsum(n_b) - n_b
    ktot = int(n_b.sum())
    k_flat = np.arange(ktot, dtype=np.int64) - np.repeat(offs, n_b)
    lens_flat = np.concatenate([np.asarray(sp[2], dtype=np.int64) for sp in specs])
    sls_list = [sp[0] / sp[1] for sp in specs]  # exact-int true division
    s_arr = np.empty((nb, C), dtype=np.float64)
    for b, sls in enumerate(sls_list):
        s_arr[b] = (0.0, sls - 0.5, sls - 0.25, sls, sls + 0.25, sls + 0.5)
    # shift vectors: rint(s*k), normalized so the block minimum is 0.
    # rint of a monotone sequence is monotone, so the minimum is
    # min(rint(s*0)=0, rint(s*(n-1))) in closed form.
    s_line = np.repeat(s_arr, n_b, axis=0).T  # (C, ktot)
    raw = np.rint(s_line * k_flat.astype(np.float64)[None, :]).astype(np.int64)
    m_last = np.rint(s_arr * (n_b - 1)[:, None].astype(np.float64)).astype(np.int64)
    min0 = np.minimum(0, m_last)  # (nb, C)
    sh = raw - np.repeat(min0, n_b, axis=0).T  # (C, ktot)
    # wp per (block, cand): max over the block's lines of len - shift
    sent = np.full(1, -(1 << 60), dtype=np.int64)
    wps = np.empty((nb, C), dtype=np.int64)
    for c in range(C):
        wps[:, c] = np.maximum.reduceat(
            np.concatenate([lens_flat - sh[c], sent]), offs
        )[:nb] if ktot else 0
    W = int(lens_flat.max()) if ktot else 0
    if W <= 0:
        return [None] * nb
    # ink coordinates flattened across blocks
    blk_cells = []
    line_off = offs
    rows_g = []
    cols_g = []
    for b, sp in enumerate(specs):
        r, c_ = sp[3], sp[4]
        rows_g.append(np.asarray(r, dtype=np.int64) + line_off[b])
        cols_g.append(np.asarray(c_, dtype=np.int64))
        blk_cells.append(np.full(len(r), b, dtype=np.int64))
    rows_g = np.concatenate(rows_g) if rows_g else np.zeros(0, np.int64)
    cols_g = np.concatenate(cols_g) if cols_g else np.zeros(0, np.int64)
    blk_cells = np.concatenate(blk_cells) if blk_cells else np.zeros(0, np.int64)
    # one offset bincount: slot (b, c) owns [ (b*C+c)*W, ...+wp_bc )
    idx = cols_g[None, :] - sh[:, rows_g]  # (C, nnz)
    ok = idx >= 0
    base = blk_cells * (C * W)
    flat = (base[None, :] + (np.arange(C, dtype=np.int64) * W)[:, None] + idx)[ok]
    profs = np.bincount(flat, minlength=nb * C * W).reshape(nb * C, W)
    svs = profs.sum(axis=1)
    sv2s = np.einsum("ij,ij->i", profs, profs)
    out = []
    for b in range(nb):
        best = None  # (score, wp, s, c)
        for c in range(C):
            wp = int(wps[b, c])
            if wp <= 0:
                continue
            slot = b * C + c
            score = wp * int(sv2s[slot]) - int(svs[slot]) ** 2
            if best is None or score * best[1] * best[1] > best[0] * wp * wp:
                best = (score, wp, float(s_arr[b, c]), c)
        if best is None or abs(best[2]) < cfg.slope_threshold:
            out.append(None)
            continue
        c = best[3]
        lo, hi = int(offs[b]), int(offs[b] + n_b[b])
        out.append(
            (best[2], sh[c, lo:hi].tolist(), profs[b * C + c, : best[1]])
        )
    return out


def _ink_row(s: str) -> np.ndarray:
    """Boolean ink mask of one raw line (char != ' '; NUL is ink)."""
    if not s:
        return np.zeros(0, dtype=bool)
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32) != 32
