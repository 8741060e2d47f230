"""Arrow-native parse/match batch: the hot path of stage 1.

All heavy work runs in Arrow C++ kernels backed by RE2 — the SAME regex
engine as the reference's Go ``regexp`` (golden dialect parity for free):

  decode     list_flatten → take(vocab) → binary_join        (zero Python)
  match      match_substring_regex / count_substring_regex    (RE2)
  extract    extract_regex (first match, named groups,        (RE2)
             non-participating group → "" like Go)
  findall    fieldex.findall: every match per row             (RE2; Python
             finditer on hit rows where the RE2 form is unsound)

Python touches only HIT rows (building the per-row match lists) — on real
logs a few percent of rows — so per-row Python cost scales with matches,
not input size. Output is the constant schema of functions/schema.py: the
issue matches are keyed lists (one entry per issue with a match on the
line), so no column is named after an issue.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from radar_log_parser_spark.config import (
    LOG_LEVELS,
    LOG_LEVELS_MAP,
    LOG_LEVELS_RGX,
    ConfigSpec,
)
from radar_log_parser_spark.functions.fieldex import (
    FieldPlan,
    extract_field_columns,
    findall,
    keyed_list,
    list_array,
)
from radar_log_parser_spark.functions.schema import MATCH_TYPE, parsed_arrow_schema


# the summary's scan-order key packs a line number into bits 20..52 and a
# match's position in its line into the low 20 bits (aggregates._line_ord);
# the parse rejects line numbers and per-line match counts past them
LINE_NO_LIMIT = 1 << 33
MATCH_POS_LIMIT = 1 << 20

_LINEWRAP = re.compile(r"^\(\?m\)\^\.\*(.+)\.\*\$$", re.DOTALL)


def literal_line_pattern(pat: str) -> str | None:
    """The needle when `pat` is exactly the full-line-containment idiom
    `(?m)^.*LITERAL.*$` (the shape radar configs use for process/event/issue
    patterns — reference YAMLs per extractFiles.go:40-68), else None.

    For such patterns, matching is LITERAL SUBSTRING CONTAINMENT: a needle
    without '\\n' cannot span lines, so `some line contains needle` ⇔ the
    wrapped regex matches — letting the scan run in Arrow's
    match_substring (SIMD substring search) instead of RE2. Go's regexp
    applies the same class of literal-prefilter rewrites internally; here
    the whole pattern collapses."""
    m = _LINEWRAP.match(pat)
    if m is None:
        return None
    inner = m.group(1)
    # literal = free of regex metacharacters (re.escape is too strict a
    # test: it escapes plain spaces on 3.11+)
    if not inner or "\n" in inner or any(c in _RGX_META for c in inner):
        return None
    return inner


_RGX_META = set("\\.^$*+?{}[]()|")


class ArrowCompiledConfig:
    """The one compiled form of a config, built once per executor process:
    pattern strings for the RE2 kernels, each name pattern's literal
    needle, the Python-compiled patterns for the hit-row detail work, and
    the field-extraction plan."""

    def __init__(self, cfg: ConfigSpec):
        self.procs = sorted(cfg.specific_process.items())
        self.events = sorted(cfg.important_events.items())
        self.needles = {
            pat: literal_line_pattern(pat) for _n, pat in self.procs + self.events
        }
        # Python patterns compile with re.ASCII so the hit-row detail work
        # agrees with the RE2 kernels that selected the hits: RE2 (and Go,
        # Java, DuckDB) treat \d/\w/\b as ASCII-only; Python's Unicode
        # default would extract MORE matches than RE2 flagged on non-ASCII
        # content (ADVICE r3)
        self.ngrp = sorted(
            (n, re.compile(s.regex, re.ASCII), literal_line_pattern(s.regex))
            for n, s in cfg.issues.items()
            if not s.grouped and s.regex
        )
        self.grp = []
        for n, s in sorted(cfg.issues.items()):
            if not s.grouped or not s.grouping:
                continue
            c = re.compile(s.grouping, re.ASCII)
            # pyarrow extract_regex needs every group named; Go SubexpNames
            # allows unnamed → those fall back to Python re on hit rows only
            self.grp.append((n, c, len(c.groupindex) == c.groups))
        self.fields = FieldPlan(cfg)
        self.sev: dict[str, dict] = {}
        for platform, levels in LOG_LEVELS.items():
            rgx = LOG_LEVELS_RGX[platform]
            letters = {LOG_LEVELS_MAP[platform][lv]: lv for lv in levels}
            if rgx["start"] == "" and rgx["end"] == "":
                # bare-letter platform (quirk Q8): literal char counts
                self.sev[platform] = {"mode": "count", "letters": letters}
            else:
                combined = (
                    rgx["start"] + "(?P<lvl>[" + "".join(sorted(letters)) + "])" + rgx["end"]
                )
                self.sev[platform] = {
                    "mode": "extract",
                    "pattern": combined,
                    "letters": letters,
                }


# keyed by id(cfg) but the entry RETAINS cfg: without the reference, a GC'd
# config's address could be reused by a different config on a long-lived
# worker, silently serving stale compiled patterns
_COMPILED: dict[int, tuple[ConfigSpec, ArrowCompiledConfig]] = {}


def compiled(cfg: ConfigSpec) -> ArrowCompiledConfig:
    ent = _COMPILED.get(id(cfg))
    if ent is None or ent[0] is not cfg:
        ent = (cfg, ArrowCompiledConfig(cfg))
        _COMPILED[id(cfg)] = ent
    return ent[1]


def decode_tokens(tokens: pa.Array, vocab_pa: pa.Array) -> pa.Array:
    """list<int32> → string, entirely in Arrow C++."""
    if isinstance(tokens, pa.ChunkedArray):
        tokens = tokens.combine_chunks()
    lengths = pc.list_value_length(tokens).to_numpy(zero_copy_only=False).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    flat = pc.list_flatten(tokens)
    words = pc.take(vocab_pa, flat)
    lists = pa.ListArray.from_arrays(pa.array(offsets), words)
    return pc.binary_join(lists, " ")


def _name_masks(text: pa.Array, patterns, needles) -> dict[str, np.ndarray]:
    out: dict[str, np.ndarray] = {}
    for name, pat in patterns:
        lit = needles[pat]
        hit = (
            pc.match_substring(text, lit)
            if lit is not None
            else pc.match_substring_regex(text, pat)
        )
        out[name] = hit.to_numpy(zero_copy_only=False)
    return out


def _lists_from_masks(masks: dict[str, np.ndarray], patterns, n: int) -> pa.Array:
    """Per-row name lists in pattern order, built without per-row Python:
    row-major nonzero of the (n, P) hit matrix IS the (row, pattern-order)
    flattening the old append loop produced."""
    names = [name for name, _pat in patterns]
    if not names:
        return pa.ListArray.from_arrays(
            pa.array(np.zeros(n + 1, dtype=np.int32)), pa.array([], pa.string())
        )
    m = np.column_stack([masks[nm] for nm in names])
    counts = m.sum(axis=1)
    _rows, pat_idx = np.nonzero(m)
    values = np.array(names, dtype=object)[pat_idx]
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values, pa.string()))


def _keyed_matches(n: int, matches: dict[str, tuple[np.ndarray, pa.ListArray]]) -> pa.ListArray:
    """`ngrp__hits` / `grp__hits` from each issue's (counts, match lists),
    issues in name order: per row, an entry for each issue it matched."""
    parts = []
    for key, (iname, (counts, lists)) in enumerate(matches.items()):
        idx = np.flatnonzero(counts)
        parts.append((idx, key, [pa.repeat(iname, len(idx)), lists.take(pa.array(idx))]))
    return keyed_list(n, parts, MATCH_TYPE)


def match_batch_arrow(batch: pa.RecordBatch, cfg: ConfigSpec, vocab_pa: pa.Array) -> pa.RecordBatch:
    cc = compiled(cfg)
    n = batch.num_rows
    doc_id = batch.column(batch.schema.get_field_index("doc_id"))
    source = batch.column(batch.schema.get_field_index("source"))
    tokens = batch.column(batch.schema.get_field_index("tokens"))
    n_tok = batch.column(batch.schema.get_field_index("n_tok"))

    text = decode_tokens(tokens, vocab_pa)
    # digits after the LAST '-' (ingest writes {line:06d}, which grows past 6
    # digits beyond 1M lines/file — a fixed {6} here silently truncated the
    # ordinal and corrupted every order-sensitive aggregate)
    line_no = pc.extract_regex(doc_id, r"-(?P<ln>\d+)$").field(0).cast(pa.int64())
    if (pc.max(line_no).as_py() or 0) >= LINE_NO_LIMIT:
        first = pc.index(pc.greater_equal(line_no, LINE_NO_LIMIT), True).as_py()
        raise ValueError(
            f"doc_id {doc_id[first].as_py()!r}: line number at or above 2^33, "
            "past the summary's packed scan-order key (aggregates._line_ord)"
        )

    # proc hit masks are retained: the per-line field extraction below
    # reuses them as eligibility prefilters for grouped-issue pairs
    proc_masks = _name_masks(text, cc.procs, cc.needles)
    cols: list[pa.Array] = [
        doc_id, source, line_no, tokens, n_tok, text,
        _lists_from_masks(proc_masks, cc.procs, n),
        _lists_from_masks(_name_masks(text, cc.events, cc.needles), cc.events, n),
    ]

    # severity, platform(=source)-dependent → parallel (levels, counts).
    # Entry arrays are accumulated per platform pass and stable-sorted by
    # row at the end: platforms partition the rows (source is single-valued
    # per row) and within a platform entries are appended in sorted-letter
    # order, so the stable sort reproduces the reference's per-row order
    # without any per-row Python.
    sev_counts = np.zeros(n, dtype=np.int64)
    ent_rows: list[np.ndarray] = []
    ent_levels: list[np.ndarray] = []
    ent_cnts: list[np.ndarray] = []
    src_np = source.to_numpy(zero_copy_only=False)
    present = set(pc.unique(source).to_pylist())
    for platform in sorted(p for p in present if p in cc.sev):
        conf = cc.sev[platform]
        on_plat = src_np == platform
        if conf["mode"] == "extract":
            ext = pc.extract_regex(text, conf["pattern"])
            valid = ext.is_valid().to_numpy(zero_copy_only=False)
            letters = ext.field(0).to_numpy(zero_copy_only=False)
            idx = np.flatnonzero(valid & on_plat)
            if len(idx):
                lev = np.empty(len(idx), dtype=object)
                lsub = letters[idx]
                for letter, lv in sorted(conf["letters"].items()):
                    lev[lsub == letter] = lv
                ent_rows.append(idx)
                ent_levels.append(lev)
                ent_cnts.append(np.ones(len(idx), dtype=np.int64))
                sev_counts[idx] += 1
        else:
            for letter, lv in sorted(conf["letters"].items()):
                counts = pc.count_substring(text, letter).to_numpy(zero_copy_only=False)
                rows_l = np.flatnonzero((counts > 0) & on_plat)
                if len(rows_l):
                    ent_rows.append(rows_l)
                    ent_levels.append(np.full(len(rows_l), lv, dtype=object))
                    ent_cnts.append(counts[rows_l])
                    sev_counts[rows_l] += 1
    if ent_rows:
        ar = np.concatenate(ent_rows)
        order = np.argsort(ar, kind="stable")
        flat_levels = np.concatenate(ent_levels)[order]
        flat_counts = np.concatenate(ent_cnts)[order]
    else:
        flat_levels, flat_counts = [], []
    cols.append(list_array(sev_counts, flat_levels, pa.string()))
    cols.append(list_array(sev_counts, flat_counts, pa.int32()))

    # non-grouped issues (FindAllString semantics: ALL match substrings per
    # row, in order, via fieldex.findall). counts+values retained per
    # issue: the field extraction below scans these exact substrings as
    # its non-grouped subjects.
    batch_newline: bool | None = None

    def has_newline() -> bool:
        nonlocal batch_newline
        if batch_newline is None:
            batch_newline = bool(pc.any(pc.match_substring(text, "\n")).as_py())
        return batch_newline

    ngrp_matches: dict[str, tuple[np.ndarray, pa.ListArray]] = {}
    for iname, crgx, lit in cc.ngrp:
        if lit is not None and not has_newline():
            # full-line-containment idiom on one-line rows: at most one
            # match and it is the WHOLE row — containment mask + filter,
            # no regex at all
            hit = pc.match_substring(text, lit)
            counts = hit.to_numpy(zero_copy_only=False).astype(np.int64)
            lists = list_array(counts, pc.filter(text, hit), pa.string())
        else:
            counts, lists = findall(text, crgx)
            over = np.flatnonzero(counts >= MATCH_POS_LIMIT)
            if len(over):
                raise ValueError(
                    f"doc_id {doc_id[int(over[0])].as_py()!r}: issue {iname!r} matches "
                    "2^20 or more times on one line, past the summary's packed "
                    "scan-order key (aggregates._line_ord)"
                )
        ngrp_matches[iname] = (counts, lists)
    cols.append(_keyed_matches(n, ngrp_matches))

    # grouped issues: first-match capture tuple per row (Go
    # FindStringSubmatch); Arrow extract_regex when all groups are named
    grp_matches: dict[str, tuple[np.ndarray, pa.ListArray]] = {}
    for iname, crgx, all_named in cc.grp:
        counts = np.zeros(n, dtype=np.int64)
        values: list[str] = []
        if all_named:
            ext = pc.extract_regex(text, crgx.pattern)
            valid = ext.is_valid().to_numpy(zero_copy_only=False)
            idx = np.flatnonzero(valid)
            if len(idx):
                fields = [
                    ext.field(g).to_numpy(zero_copy_only=False)
                    for g in range(crgx.groups)
                ]
                counts[idx] = crgx.groups
                # row-major (row, group) flattening, no per-row Python
                values = np.stack(fields, axis=1)[idx].ravel()
        else:
            hits = pc.match_substring_regex(text, crgx.pattern).to_numpy(zero_copy_only=False)
            idx = np.flatnonzero(hits)
            for i, s in zip(idx, pc.take(text, pa.array(idx, pa.int64())).to_pylist()):
                m = crgx.search(s)
                if m is None:
                    continue
                counts[i] = crgx.groups
                values.extend(g if g is not None else "" for g in m.groups())
        grp_matches[iname] = (counts, list_array(counts, values, pa.string()))
    cols.append(_keyed_matches(n, grp_matches))

    # per-line field hits (A4/F5) — extracted HERE, in the embarrassingly-
    # parallel pass, instead of per scoped subject row inside the fan-out
    # window (see functions/fieldex.py for the rationale and semantics)
    cols.append(extract_field_columns(cc.fields, n, text, proc_masks, ngrp_matches))

    return pa.RecordBatch.from_arrays(cols, schema=parsed_arrow_schema())
