"""Per-line field-hit extraction (A4/F5) computed AT PARSE TIME.

The summary's per-(issue, field) regexes previously ran JVM-side inside the
fan-out window, once per scoped SUBJECT row — the worst-scaling, most
DRAM-exposed stage of the pipeline, and a line under two kept processes was
re-extracted once per copy (measured at 32M rows: the field extraction was
~75-85% of the fused summary job's wall). This module computes the hits
ONCE per line inside the embarrassingly-parallel parse pass:

  grouped pair (issue is grouped)  — subject is the LINE TEXT (quirk Q10:
      grouped fields scan every scoped line, matching or not;
      analyzeLog.go:222-231). Eligibility prefilter: the line matched any
      of the issue's processes (the scope join can only keep such lines);
      the kept-set (>1 line) filter happens later and merely drops rows.
  non-grouped pair — subjects are the issue's MATCH SUBSTRINGS in order
      (analyzeLog.go:279,289-297); hits of all substrings joined flat.

Extraction batches by UNIQUE pattern (the bench catalog reuses one Pid
pattern across 9 issues): each unique grouped pattern runs once over the
union of its issues' eligible lines; per-pair masks then select from
the shared result. Every extraction goes through `findall`, the one place
that picks the engine: RE2's `findall_kernel`, or Python `finditer` with
re.ASCII when the kernel is unsound — the same engine-pinning contract as
the rest of the parse kernel (ADVICE r3: RE2, Go, Java, DuckDB and
Python-ASCII agree on the linted subset).

Output: one `fld_hits` list per line, an entry struct<k, n, j> for each
pair k (its position in config.summary_pairs) with n > 0 hits on the
line, in k order — so the fan-out summary is a pure aggregation with no
regex and no full-text traffic, and the pair index travels as data.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from radar_log_parser_spark.config import ConfigSpec, summary_pairs
from radar_log_parser_spark.functions.schema import HIT_TYPE


class FieldPlan:
    """Compiled extraction plan: pairs grouped by unique work unit.

    grouped_work: {pattern: {crgx, procs: proc-name union,
        ks: [(pair_k, the pair's own proc names), ...]}}
    ngrp_work: {(issue, pattern): {crgx, ks: [pair_k, ...]}}
    """

    def __init__(self, cfg: ConfigSpec):
        self.grouped_work: dict[str, dict] = {}
        self.ngrp_work: dict[tuple[str, str], dict] = {}
        for k, (iname, _fname, pat) in enumerate(summary_pairs(cfg)):
            spec = cfg.issues[iname]
            if spec.grouped:
                procs = tuple(sorted(spec.specific_process))
                w = self.grouped_work.setdefault(
                    pat, {"crgx": re.compile(pat, re.ASCII), "procs": set(), "ks": []}
                )
                w["procs"].update(procs)
                w["ks"].append((k, procs))
            else:
                w = self.ngrp_work.setdefault(
                    (iname, pat), {"crgx": re.compile(pat, re.ASCII), "ks": []}
                )
                w["ks"].append(k)


def list_array(counts: np.ndarray, values, value_type) -> pa.ListArray:
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values, value_type))


def keyed_list(n: int, parts: list[tuple], entry_type: pa.StructType) -> pa.ListArray:
    """A list<entry_type> column of `n` rows from per-key parts, each
    (rows, key, field arrays): the struct fields of the part's entries,
    one per row in `rows` (ascending). Every row lists its entries in key
    order — the `ngrp__hits`, `grp__hits` and `fld_hits` shape."""
    if not parts:
        return list_array(np.zeros(n, dtype=np.int64), [], entry_type)
    row = np.concatenate([idx for idx, _k, _f in parts])
    key = np.concatenate([np.full(len(idx), k) for idx, k, _f in parts])
    order = pa.array(np.lexsort((key, row)))
    entries = pa.StructArray.from_arrays(
        [pc.take(pa.concat_arrays(col), order) for col in zip(*(f for _i, _k, f in parts))],
        fields=list(entry_type),
    )
    return list_array(np.bincount(row, minlength=n), entries, entry_type)


_SENT = "\x00"


def findall_kernel(sub: pa.Array, pat: str) -> tuple[np.ndarray, pa.ListArray]:
    """Go FindAllString / Python finditer-group(0) semantics entirely in
    RE2 C++ kernels: every non-overlapping match of `pat` per string, in
    scan order, as (counts, list<matches>).

    Mechanism: GlobalReplace each match with NUL + itself + NUL (RE2
    rewrite "\\0" = the whole match), split on NUL — every odd segment is
    a match (2n+1 segments for n matches; adjacent matches contribute an
    empty even segment, preserving the arithmetic). Only `findall` calls
    it, after excluding the two unsound inputs."""
    marked = pc.replace_substring_regex(sub, pat, replacement=f"{_SENT}\\0{_SENT}")
    parts = pc.split_pattern(marked, _SENT)
    if isinstance(parts, pa.ChunkedArray):
        parts = parts.combine_chunks()
    offs = parts.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    n_m = ((offs[1:] - offs[:-1]) - 1) // 2
    starts = np.cumsum(n_m) - n_m
    total = int(n_m.sum())
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, n_m)
    gidx = np.repeat(offs[:-1] + 1, n_m) + 2 * within
    matches_flat = pc.take(parts.values, pa.array(gidx, pa.int64()))
    moffs = np.concatenate(([0], np.cumsum(n_m))).astype(np.int32)
    return n_m, pa.ListArray.from_arrays(pa.array(moffs), matches_flat)


def findall(sub: pa.Array, crgx: re.Pattern) -> tuple[np.ndarray, pa.ListArray]:
    """Every non-overlapping match of `crgx` per string of `sub`, in scan
    order, as (counts, list<matches>) — the one place that picks the
    engine.

    `findall_kernel` keeps the whole extraction in RE2 C++ (profile: the
    old per-hit-row finditer loop was ~25% of parse wall, and field
    patterns like a bare Pid '\\d{4,5}' hit most lines). It is unsound for
    a pattern that can match the empty string (GlobalReplace and finditer
    disagree on zero-width advancement) and for an array holding the NUL
    sentinel; then Python finditer (re.ASCII) runs on the rows RE2 says
    match. No linted catalog pattern matches empty."""
    if isinstance(sub, pa.ChunkedArray):
        sub = sub.combine_chunks()
    if crgx.search("") is None and not pc.any(pc.match_substring(sub, _SENT)).as_py():
        return findall_kernel(sub, crgx.pattern)
    hits = pc.match_substring_regex(sub, crgx.pattern).to_numpy(zero_copy_only=False)
    idx = np.flatnonzero(hits)
    counts = np.zeros(len(sub), dtype=np.int64)
    values: list[str] = []
    for i, s in zip(idx, pc.take(sub, pa.array(idx, pa.int64())).to_pylist()):
        ms = [m.group(0) for m in crgx.finditer(s)]
        counts[i] = len(ms)
        values.extend(ms)
    return counts, list_array(counts, values, pa.string())


def _any_of(masks: dict[str, np.ndarray], names, n: int) -> np.ndarray:
    out = np.zeros(n, dtype=bool)
    for name in names:
        m = masks.get(name)
        if m is not None:
            out |= m
    return out


def extract_field_columns(
    plan: FieldPlan,
    n: int,
    text_pa: pa.Array,
    proc_masks: dict[str, np.ndarray],
    ngrp_matches: dict[str, tuple[np.ndarray, pa.ListArray]],
) -> pa.ListArray:
    """The `fld_hits` column: per line, a struct<k,n,j> entry for each
    summary pair k (config.summary_pairs) with hits on the line, in k order.

    proc_masks: per GLOBAL process name, the boolean line-hit mask the
        parse kernel already computed for the `procs` column.
    ngrp_matches: per non-grouped issue, (counts, match lists) — the
        exact arrays behind the issue's `ngrp__hits` entries.
    """
    parts: list[tuple] = []

    def add(k: int, idx: np.ndarray, n_hits: np.ndarray, joined: np.ndarray) -> None:
        parts.append((idx, k, [
            pa.array(np.full(len(idx), k, dtype=np.int32)),
            pa.array(n_hits[idx], pa.int32()),
            pa.array(joined[idx], pa.string()),
        ]))

    # grouped pairs: one extraction per unique pattern over the UNION of its
    # issues' eligible lines; per-pair masks select from the shared result
    for w in plan.grouped_work.values():
        idx = np.flatnonzero(_any_of(proc_masks, w["procs"], n))
        if not len(idx):
            continue
        n_m, lists = findall(pc.take(text_pa, pa.array(idx, pa.int64())), w["crgx"])
        pat_n = np.zeros(n, dtype=np.int64)
        pat_j = np.full(n, None, dtype=object)
        pat_n[idx] = n_m
        pat_j[idx] = pc.binary_join(lists, "\n").to_numpy(zero_copy_only=False)
        for k, procs in w["ks"]:
            add(k, np.flatnonzero((pat_n > 0) & _any_of(proc_masks, procs, n)), pat_n, pat_j)

    # non-grouped pairs: subjects are the issue's match substrings, hits
    # joined flat in (match_pos, hit) order — identical to the old
    # per-subject join since zero-hit subjects contribute nothing. The
    # field pattern runs over the FLAT substring array; the per-row join
    # of non-empty per-substring results is a binary_join over a rebuilt
    # list array.
    for (iname, _pat), w in plan.ngrp_work.items():
        ent = ngrp_matches.get(iname)
        if ent is None:
            continue
        counts, flat = ent[0], ent[1].values
        if not len(flat):
            continue
        n_f, lists = findall(flat, w["crgx"])
        if not n_f.any():
            continue
        offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
        j_subs = pc.binary_join(lists, "\n").to_numpy(zero_copy_only=False)
        # per-row totals + ordered join of the hit substrings' results
        ccum = np.concatenate(([0], np.cumsum(n_f))).astype(np.int64)
        row_n = ccum[offsets[1:]] - ccum[offsets[:-1]]
        nz = n_f > 0
        zcum = np.concatenate(([0], np.cumsum(nz))).astype(np.int64)
        row_nz = zcum[offsets[1:]] - zcum[offsets[:-1]]
        joined = pc.binary_join(
            list_array(row_nz, j_subs[nz], pa.string()), "\n"
        ).to_numpy(zero_copy_only=False)
        rows_hit = np.flatnonzero(row_n)
        for k in w["ks"]:
            add(k, rows_hit, row_n, joined)

    return keyed_list(n, parts, HIT_TYPE)
