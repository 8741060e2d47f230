"""Config = the query. YAML → validated ConfigSpec → compiled plan inputs.

Mirrors the reference's config model (reference: go-app/report/analyzeLog.go:13-46
``Config``/``Issue``; YAML decode at go-app/report/extractFiles.go:17-68) but
validates at plan-compile time instead of silently dropping broken patterns
at run time (reference quirk P6/Q11: a regex that fails to compile simply
contributes nothing — we fail fast instead; fixture configs contain only
valid patterns so golden parity is unaffected).

The config's dictionary parts (priority, issue→process mapping, severity
tables) are later turned into tiny DataFrames for broadcast hash joins; the
pattern parts are compiled once per executor inside the match UDF.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import yaml

# Go's regexp is RE2: no backreferences, no lookaround (SURVEY.md §5).
# Python `re` is a superset, so any RE2-subset pattern behaves identically.
# Lint: reject constructs outside the RE2 subset so configs stay portable
# across the oracle (Python re), the engine (RE2 kernels / Python re inside
# Arrow batches) and SQL engines (Spark/Java regex, DuckDB/RE2).
_NON_RE2 = re.compile(r"\(\?[=!<]|\(\?P=|\\[1-9]")

# any case-insensitive inline flag group: (?i), (?si), (?i:...), (?si:...)
_CASE_INSENSITIVE = re.compile(r"\(\?[aiLmsux-]*i[aiLmsux-]*[):]")
_NON_ASCII_LETTER = re.compile(r"[^\x00-\x7f]")


class ConfigError(ValueError):
    pass


def _lint_pattern(name: str, pattern: str) -> None:
    if _NON_RE2.search(pattern):
        raise ConfigError(
            f"pattern {name!r} uses backreference/lookaround — outside the "
            f"RE2 subset the reference (Go regexp) supports: {pattern!r}"
        )
    # (?i) folding divergence (ADVICE r4): Go/RE2 apply UNICODE simple
    # folding under (?i) while this engine pins Python re to re.ASCII (to
    # keep \d/\w/\b identical across all five engines, ADVICE r3) — so a
    # case-insensitive pattern containing non-ASCII letters would match
    # under the reference but not here. Reject that combination instead of
    # silently diverging. Residual (documented, not linted): RE2's Unicode
    # folding also maps a few non-ASCII CONTENT chars onto ASCII pattern
    # letters (e.g. U+212A KELVIN SIGN → 'k'), which no pattern lint can
    # see; ASCII-only log content is unaffected.
    if _CASE_INSENSITIVE.search(pattern) and _NON_ASCII_LETTER.search(pattern):
        raise ConfigError(
            f"pattern {name!r} combines a case-insensitive flag with "
            f"non-ASCII characters: Go/RE2 folds case per Unicode while "
            f"this engine folds per ASCII (the cross-engine \\d/\\w/\\b "
            f"contract), so matches would silently diverge — spell the "
            f"case variants explicitly instead: {pattern!r}"
        )
    try:
        re.compile(pattern)
    except re.error as e:
        raise ConfigError(f"pattern {name!r} does not compile: {e}") from e


@dataclass(frozen=True)
class IssueSpec:
    """One issue section (reference: analyzeLog.go:40-46)."""

    name: str
    specific_process: dict[str, str]  # process name → regex
    regex: str = ""
    detailing_mode: str = "separate"  # anything != "group" is non-grouped
    grouping: str = ""
    additional_fields: dict[str, str] = field(default_factory=dict)

    @property
    def grouped(self) -> bool:
        # reference: analyzeLog.go:180 (`detailing_mode == "group"`)
        return self.detailing_mode == "group"

    def group_names(self) -> list[str]:
        """Capture-group names of the grouping pattern, index-aligned like
        Go's SubexpNames(): [""] + one entry per group, "" if unnamed
        (reference: analyzeLog.go:201-203)."""
        if not self.grouping:
            return [""]
        c = re.compile(self.grouping)
        inv = {v: k for k, v in c.groupindex.items()}
        return [""] + [inv.get(i, "") for i in range(1, c.groups + 1)]

    def n_groups(self) -> int:
        return re.compile(self.grouping).groups if self.grouping else 0


@dataclass(frozen=True)
class GeneralFields:
    """IssuesGeneralFields (reference: analyzeLog.go:15-21)."""

    number: str = ""
    details: str = ""
    timestamp: str = ""
    log_level: str = ""
    other_fields: dict[str, str] = field(default_factory=dict)


@dataclass(frozen=True)
class ConfigSpec:
    specific_process: dict[str, str]  # process name → regex (analyzeLog.go:14)
    general: GeneralFields
    issues: dict[str, IssueSpec]
    priority: dict[str, int]
    important_events: dict[str, str]

    def validate(self) -> "ConfigSpec":
        for name, rgx in self.specific_process.items():
            _lint_pattern(f"SpecificProcess.{name}", rgx)
        for name, rgx in self.important_events.items():
            _lint_pattern(f"ImportantEvents.{name}", rgx)
        if self.general.timestamp:
            _lint_pattern("IssuesGeneralFields.Timestamp", self.general.timestamp)
        if self.general.log_level:
            _lint_pattern("IssuesGeneralFields.LogLevel", self.general.log_level)
        for fname, rgx in self.general.other_fields.items():
            _lint_pattern(f"IssuesGeneralFields.OtherFields.{fname}", rgx)
        for iname, issue in self.issues.items():
            # the aggregation order key packs proc_rank into bits 53..62 of
            # one BIGINT (aggregates._line_ord: proc_rank < 2^10) — an issue
            # with ≥1024 processes would overflow the packed key mid-aggregate
            # (ANSI ARITHMETIC_OVERFLOW) instead of failing clearly; bound
            # it here at config load
            if len(issue.specific_process) > 1023:
                raise ConfigError(
                    f"Issues.{iname!r} lists {len(issue.specific_process)} "
                    f"processes; at most 1023 per issue are supported (the "
                    f"scan-order key packs the process rank into 10 bits)"
                )
            for pname, rgx in issue.specific_process.items():
                _lint_pattern(f"Issues.{iname}.specific_process.{pname}", rgx)
            if issue.regex:
                _lint_pattern(f"Issues.{iname}.regex", issue.regex)
            if issue.grouped:
                if not issue.grouping:
                    raise ConfigError(f"grouped issue {iname!r} has no grouping pattern")
                _lint_pattern(f"Issues.{iname}.grouping", issue.grouping)
                # reference requires ≥2 capture groups for a grouped match
                # (analyzeLog.go:238 `len(matches) > 2`); a grouping pattern
                # with <2 groups can never emit rows — flag it.
                if issue.n_groups() < 2:
                    raise ConfigError(
                        f"grouped issue {iname!r}: grouping pattern has "
                        f"{issue.n_groups()} capture groups; ≥2 required "
                        f"(group 1 = key, groups 2.. = detail tuple)"
                    )
                # Spark column names ignore case: two such names of one
                # issue would share its g_<Name> column (routing.grouped_routed)
                named = [n.lower() for n in issue.group_names() if n]
                if len(set(named)) < len(named):
                    raise ConfigError(
                        f"grouped issue {iname!r}: capture-group names that "
                        "differ only in case would share one g_<Name> column"
                    )
            for fname, rgx in issue.additional_fields.items():
                _lint_pattern(f"Issues.{iname}.additional_fields.{fname}", rgx)
        return self


def summary_pairs(cfg: ConfigSpec) -> list[tuple[str, str, str]]:
    """(issue, field, pattern) triples in (issue asc, field asc) order — the
    STATIC field catalog, in which a pair's position k is its index
    everywhere: the parse stage tags each per-line hit with k
    (functions/fieldex.py, the `fld_hits` column), `routing` keeps an
    issue's contiguous k range on its scoped rows, and the summary
    (`aggregates.summary_frame`) joins the aggregated hits back to the
    pairs by k. Readers: `fieldex.FieldPlan`, `routing.issue_process_map`
    and `summary_frame`'s pairs frame."""
    pairs: list[tuple[str, str, str]] = []
    for iname in sorted(cfg.issues):
        spec = cfg.issues[iname]
        fields = dict(cfg.general.other_fields)
        fields.update(spec.additional_fields)
        for fname in sorted(fields):
            pairs.append((iname, fname, fields[fname]))
    return pairs


# leading inline global flags, e.g. '(?i)boot' — valid in Go anywhere, but
# Python 3.11+ rejects them MID-pattern, so wrapping must hoist them first
_LEAD_FLAGS = re.compile(r"^\(\?([aiLmsux]+)\)")


def _ends_anchored(p: str) -> bool:
    """True iff p ends with an UNESCAPED '$' (an even run of backslashes
    before it) — `foo\\$` is a literal dollar, not an anchor."""
    if not p.endswith("$"):
        return False
    n = 0
    i = len(p) - 2
    while i >= 0 and p[i] == "\\":
        n += 1
        i -= 1
    return n % 2 == 0


def _anchor_event_pattern(name: str, rgx: str) -> str:
    """The reference resolves important-event MATCH STRINGS through a
    text→line-number map (details.go:158-161,177), so an UNANCHORED pattern's
    substring match misses the map and silently reports line 0. Upstream
    accepts such configs, so hard-rejecting them broke compat (ADVICE r2);
    instead, auto-wrap to full-line form `(?m…)^.*(?:…).*$` — the matched
    string becomes the containing line, which resolves to the real line
    number instead of the reference's line-0 artifact.

    ALL consecutive leading inline global flag groups (`(?i)(?m)boot`,
    each valid anywhere in Go) are HOISTED and merged — embedding any of
    them mid-pattern is a compile error on Python 3.11+, and hoisting only
    the first group left `(?m)` embedded (ADVICE r4).

    The wrapper's own context is `[^\n]*`, not `.*`, so a hoisted `s`
    (dotall) flag cannot make the wrapper span lines (ADVICE r4: with
    `.*` under dotall the "containing line" silently became the whole
    remaining file); `s` is re-scoped to the INNER group as `(?s:…)`, so
    the user's pattern keeps its upstream dotall semantics while the
    line-attribution contract survives.

    Two documented deviations vs the reference, both warned: (a) reported
    line number is the line's real ordinal, not the reference's line-0
    artifact; (b) match MULTIPLICITY collapses to one per line — a line
    containing k occurrences of the inner pattern counts once here, where
    the reference counts k (all at line 0). Count parity holds whenever a
    pattern occurs at most once per line."""
    flags, rest = "", rgx
    while (m := _LEAD_FLAGS.match(rest)) is not None:
        flags += m.group(1)
        rest = rest[m.end():]
    if "m" in flags and rest.startswith("^") and _ends_anchored(rest):
        return rgx  # already full-line anchored — nothing to do
    import warnings

    warnings.warn(
        f"ImportantEvents.{name!r} is not full-line anchored; auto-wrapping "
        f"to full-line form. Deviations vs the reference: real line "
        f"numbers instead of line 0, and one match per line (a line with "
        f"k occurrences counts once, not k)",
        stacklevel=3,
    )
    inner = f"(?s:{rest})" if "s" in flags else f"(?:{rest})"
    # dedupe while preserving first-seen order; 'm' leads, 's' stays inner
    seen = dict.fromkeys(f for f in "m" + flags if f not in "s")
    wrap_flags = "".join(seen)
    return f"(?{wrap_flags})^[^\\n]*{inner}[^\\n]*$"


def _as_str_map(d: object, what: str) -> dict[str, str]:
    if d is None:
        return {}
    if not isinstance(d, dict):
        raise ConfigError(f"{what} must be a mapping, got {type(d).__name__}")
    return {str(k): str(v) for k, v in d.items()}


def parse_config(raw: dict) -> ConfigSpec:
    """Dict (from yaml.safe_load) → ConfigSpec. Mirrors extractConfig +
    extract_issues_content (reference: extractFiles.go:17-68): string keys
    regex/detailing_mode/grouping; map keys specific_process vs
    additional_fields (any other map key is additional_fields, as in the
    reference's else-branch at extractFiles.go:61)."""
    gf_raw = raw.get("IssuesGeneralFields") or {}
    general = GeneralFields(
        number=str(gf_raw.get("Number") or ""),
        details=str(gf_raw.get("Details") or ""),
        timestamp=str(gf_raw.get("Timestamp") or ""),
        log_level=str(gf_raw.get("LogLevel") or ""),
        other_fields=_as_str_map(gf_raw.get("OtherFields"), "OtherFields"),
    )
    issues: dict[str, IssueSpec] = {}
    for iname, body in (raw.get("Issues") or {}).items():
        if not isinstance(body, dict):
            raise ConfigError(f"Issues.{iname} must be a mapping")
        spec_proc: dict[str, str] = {}
        add_fields: dict[str, str] = {}
        regex = ""
        mode = ""
        grouping = ""
        for k, v in body.items():
            if isinstance(v, str):
                if k == "regex":
                    regex = v
                elif k == "detailing_mode":
                    mode = v
                elif k == "grouping":
                    grouping = v
                # other string keys ignored, as in the reference switch
            elif isinstance(v, dict):
                if k == "specific_process":
                    spec_proc.update(_as_str_map(v, f"Issues.{iname}.specific_process"))
                else:
                    add_fields.update(_as_str_map(v, f"Issues.{iname}.{k}"))
        issues[str(iname)] = IssueSpec(
            name=str(iname),
            specific_process=spec_proc,
            regex=regex,
            detailing_mode=mode or "separate",
            grouping=grouping,
            additional_fields=add_fields,
        )
    pr_raw = raw.get("Priority") or {}
    priority = {str(k): int(v) for k, v in pr_raw.items()}
    return ConfigSpec(
        specific_process=_as_str_map(raw.get("SpecificProcess"), "SpecificProcess"),
        general=general,
        issues=issues,
        priority=priority,
        important_events={
            name: _anchor_event_pattern(name, rgx)
            for name, rgx in _as_str_map(
                raw.get("ImportantEvents"), "ImportantEvents"
            ).items()
        },
    ).validate()


def load_config(path: str) -> ConfigSpec:
    with open(path) as f:
        raw = yaml.safe_load(f)
    if not isinstance(raw, dict):
        raise ConfigError(f"config {path!r} is not a YAML mapping")
    return parse_config(raw)


# Severity tables — hard-coded per platform in the reference
# (go-app/report/details.go:13-19). `source` column == platform.
LOG_LEVELS: dict[str, list[str]] = {
    "Ios": ["Critical", "Error", "Warning", "Notice", "Info", "Debug", "Trace"],
    "my-android-bucket": ["Assert", "Error", "Warning", "Info", "Debug", "Verbose"],
}
LOG_LEVELS_MAP: dict[str, dict[str, str]] = {
    "Ios": {
        "Critical": "C", "Error": "E", "Warning": "W", "Notice": "N",
        "Info": "I", "Debug": "D", "Trace": "T",
    },
    "my-android-bucket": {
        "Assert": "A", "Error": "E", "Warning": "W", "Info": "I",
        "Debug": "D", "Verbose": "V",
    },
}
LOG_LEVELS_RGX: dict[str, dict[str, str]] = {
    # Ios start/end are "" → the level regex is the bare letter (quirk Q8)
    "Ios": {"start": "", "end": ""},
    "my-android-bucket": {
        "start": (
            r"(?m)^(?:0[1-9]|1[0-2])-(?:0[1-9]|(?:1|2)[0-9]|3(?:0|1))\s"
            r"(?:(?:(?:0|1)[0-9])|(?:2[0-3])):[0-5][0-9]:[0-5][0-9]\.\d{3}"
            r"(?:\s)*\d{4,5}(?:\s)*\d{4,5}\s"
        ),
        "end": r"\s.*",
    },
}


def severity_pattern(platform: str, level: str) -> str:
    """GetLogLeveldetails regex composition (reference: details.go:187-188)."""
    rgx = LOG_LEVELS_RGX[platform]
    return rgx["start"] + LOG_LEVELS_MAP[platform][level] + rgx["end"]
