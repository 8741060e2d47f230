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
union of its issues' eligible lines; per-pair columns then mask the shared
result. Match/non-match prefilters run in Arrow C++ RE2 kernels; the hit
rows' detail work is Python `finditer` with re.ASCII — the same
engine-pinning contract as the rest of the parse kernel (ADVICE r3: RE2,
Go, Java, DuckDB and Python-ASCII agree on the linted subset).

Output per pair k (order = config.summary_pairs): struct<n:int, j:string>,
NULL when the line has no hits for that pair — so the fan-out summary is
a pure aggregation with no regex and no full-text traffic.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from radar_log_parser_spark.config import ConfigSpec, summary_pairs

HIT_TYPE = pa.struct([pa.field("n", pa.int32(), False), pa.field("j", pa.string(), False)])


class FieldPlan:
    """Compiled extraction plan: pairs grouped by unique work unit.

    grouped_work: {pattern: (crgx, [proc_name, ...] union, [pair_k, ...])}
        plus per-pair eligibility proc-name tuples for masking.
    ngrp_work: {(issue, pattern): (crgx, [pair_k, ...])}
    """

    def __init__(self, cfg: ConfigSpec):
        self.pairs = summary_pairs(cfg)
        self.n_pairs = len(self.pairs)
        # pair_k -> ('g', pattern, proc_names) | ('n', issue, pattern)
        self.pair_info: list[tuple] = []
        self.grouped_work: dict[str, dict] = {}
        self.ngrp_work: dict[tuple[str, str], dict] = {}
        for k, (iname, _fname, pat) in enumerate(self.pairs):
            spec = cfg.issues[iname]
            if spec.grouped:
                procs = tuple(sorted(spec.specific_process))
                self.pair_info.append(("g", pat, procs))
                w = self.grouped_work.setdefault(
                    pat, {**_compiled_work(pat), "procs": set(), "ks": []}
                )
                w["procs"].update(procs)
                w["ks"].append(k)
            else:
                self.pair_info.append(("n", iname, pat))
                w = self.ngrp_work.setdefault(
                    (iname, pat), {**_compiled_work(pat), "ks": []}
                )
                w["ks"].append(k)


def _compiled_work(pat: str) -> dict:
    """Per-unique-pattern kernel plan. The findall_kernel fast path is
    unsound for patterns that can match the empty string (GlobalReplace
    and finditer disagree on zero-width advancement) — those keep the
    pure-finditer path; no linted catalog pattern matches empty."""
    crgx = re.compile(pat, re.ASCII)
    return {
        "crgx": crgx,
        "can_empty": crgx.search("") is not None,
    }


_PLANS: dict[int, tuple[ConfigSpec, FieldPlan]] = {}


def field_plan(cfg: ConfigSpec) -> FieldPlan:
    # keyed by id(cfg) but retains cfg (same rationale as parse_arrow._COMPILED)
    ent = _PLANS.get(id(cfg))
    if ent is None or ent[0] is not cfg:
        ent = (cfg, FieldPlan(cfg))
        _PLANS[id(cfg)] = ent
    return ent[1]


def _finditer_join(crgx: re.Pattern, s: str) -> tuple[int, str]:
    ms = [m.group(0) for m in crgx.finditer(s)]
    return len(ms), "\n".join(ms)


_SENT = "\x00"


def findall_kernel(sub: pa.Array, pat: str) -> tuple[np.ndarray, pa.ListArray]:
    """Go FindAllString / Python finditer-group(0) semantics entirely in
    RE2 C++ kernels: every non-overlapping match of `pat` per string, in
    scan order, as (counts, list<matches>).

    Mechanism: GlobalReplace each match with NUL + itself + NUL (RE2
    rewrite "\\0" = the whole match), split on NUL — every odd segment is
    a match (2n+1 segments for n matches; adjacent matches contribute an
    empty even segment, preserving the arithmetic). Callers must exclude
    patterns that can match empty (zero-width advancement differs) and
    strings containing NUL (sentinel collision) — see _compiled_work /
    the has_nul guards at the call sites."""
    if isinstance(sub, pa.ChunkedArray):
        sub = sub.combine_chunks()
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


def extract_field_columns(
    plan: FieldPlan,
    n: int,
    text_pa: pa.Array,
    texts_np,  # () -> np.ndarray of the decoded line texts (lazy)
    proc_masks: dict[str, np.ndarray],
    ngrp_matches: dict[str, tuple[np.ndarray, list[str]]],
) -> list[pa.StructArray]:
    """One struct<n,j> array per summary pair, order = plan.pairs.

    proc_masks: per GLOBAL process name, the boolean line-hit mask the
        parse kernel already computed for the `procs` column.
    ngrp_matches: per non-grouped issue, (counts, flat match substrings) —
        the exact arrays backing the ngrp__<issue> column.
    """
    n_cols = [np.zeros(n, dtype=np.int32) for _ in range(plan.n_pairs)]
    j_cols: list[np.ndarray] = [np.full(n, None, dtype=object) for _ in range(plan.n_pairs)]
    valid = [np.zeros(n, dtype=bool) for _ in range(plan.n_pairs)]

    # grouped pairs: one extraction per unique pattern over the UNION of its
    # issues' eligible lines; per-pair masks select from the shared result.
    # The extraction itself is findall_kernel (RE2 C++): Python touches only
    # rows whose text contains the NUL sentinel, or empty-matching patterns
    # (profile: the old per-hit-row finditer loop was ~25% of parse wall,
    # and field patterns like a bare Pid '\\d{4,5}' hit most lines).
    nul_mask: np.ndarray | None = None

    def nuls() -> np.ndarray:
        nonlocal nul_mask
        if nul_mask is None:
            nul_mask = pc.match_substring(text_pa, _SENT).to_numpy(zero_copy_only=False)
        return nul_mask

    for pat, w in plan.grouped_work.items():
        union = np.zeros(n, dtype=bool)
        for p in w["procs"]:
            m = proc_masks.get(p)
            if m is not None:
                union |= m
        idx = np.flatnonzero(union)
        if not len(idx):
            continue
        pat_n = np.zeros(n, dtype=np.int32)
        pat_j = np.full(n, None, dtype=object)
        if w["can_empty"]:
            py_idx = idx
        else:
            ker_idx = idx[~nuls()[idx]]
            py_idx = idx[nuls()[idx]]
            if len(ker_idx):
                n_m, lists = findall_kernel(
                    pc.take(text_pa, pa.array(ker_idx, pa.int64())), pat
                )
                joined = pc.binary_join(lists, "\n").to_numpy(zero_copy_only=False)
                hit = n_m > 0
                pat_n[ker_idx] = n_m
                pat_j[ker_idx[hit]] = joined[hit]
        if len(py_idx):
            tn = texts_np()
            crgx = w["crgx"]
            for i in py_idx:
                c, j = _finditer_join(crgx, tn[i])
                if c:
                    pat_n[i] = c
                    pat_j[i] = j
        pat_valid = pat_n > 0
        for k in w["ks"]:
            elig = np.zeros(n, dtype=bool)
            for p in plan.pair_info[k][2]:
                m = proc_masks.get(p)
                if m is not None:
                    elig |= m
            sel = pat_valid & elig
            n_cols[k][sel] = pat_n[sel]
            j_cols[k][sel] = pat_j[sel]
            valid[k] |= sel

    # non-grouped pairs: subjects are the issue's match substrings, hits
    # joined flat in (match_pos, hit) order — identical to the old
    # per-subject join since zero-hit subjects contribute nothing.
    # Kernel path: the field pattern runs over the FLAT substring array in
    # RE2 (count + first-match extract); Python finditer only on
    # multi-hit substrings; the per-row join of non-empty per-substring
    # results is a binary_join over a rebuilt list array.
    flat_cache: dict[str, tuple[pa.Array, bool]] = {}
    for (iname, _pat), w in plan.ngrp_work.items():
        ent = ngrp_matches.get(iname)
        if ent is None:
            continue
        counts, values = ent
        if not len(values):
            continue
        offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
        flat_nul = None
        if not w["can_empty"]:
            ent_f = flat_cache.get(iname)
            if ent_f is None:
                flat = (
                    values
                    if isinstance(values, pa.Array)
                    else pa.array(values, pa.string())
                )
                flat_nul = bool(pc.any(pc.match_substring(flat, _SENT)).as_py())
                ent_f = flat_cache[iname] = (flat, flat_nul)
            flat, flat_nul = ent_f
        if w["can_empty"] or flat_nul:
            vals_py = values.to_pylist() if isinstance(values, pa.Array) else values
            crgx = w["crgx"]
            for i in np.flatnonzero(counts):
                hits: list[str] = []
                for s in vals_py[offsets[i]:offsets[i + 1]]:
                    hits.extend(m.group(0) for m in crgx.finditer(s))
                if hits:
                    for k in w["ks"]:
                        n_cols[k][i] = len(hits)
                        j_cols[k][i] = "\n".join(hits)
                        valid[k][i] = True
            continue
        n_f, lists = findall_kernel(flat, w["crgx"].pattern)
        if not n_f.any():
            continue
        j_subs = pc.binary_join(lists, "\n").to_numpy(zero_copy_only=False)
        # per-row totals + ordered join of the hit substrings' results
        ccum = np.concatenate(([0], np.cumsum(n_f))).astype(np.int64)
        row_n = ccum[offsets[1:]] - ccum[offsets[:-1]]
        nz = n_f > 0
        zcum = np.concatenate(([0], np.cumsum(nz))).astype(np.int64)
        row_nz = zcum[offsets[1:]] - zcum[offsets[:-1]]
        sel = j_subs[nz]
        off2 = np.concatenate(([0], np.cumsum(row_nz))).astype(np.int32)
        joined = pc.binary_join(
            pa.ListArray.from_arrays(pa.array(off2), pa.array(sel, pa.string())),
            "\n",
        ).to_numpy(zero_copy_only=False)
        rows_hit = np.flatnonzero(row_n)
        for k in w["ks"]:
            n_cols[k][rows_hit] = row_n[rows_hit]
            j_cols[k][rows_hit] = joined[rows_hit]
            valid[k][rows_hit] = True

    out = []
    for k in range(plan.n_pairs):
        jv = j_cols[k]
        jv[~valid[k]] = ""  # struct children are non-null; validity is on the struct
        out.append(
            pa.StructArray.from_arrays(
                [pa.array(n_cols[k], pa.int32()), pa.array(jv, pa.string())],
                fields=list(HIT_TYPE),
                mask=pa.array(~valid[k]),
            )
        )
    return out

