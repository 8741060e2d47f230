"""Deterministic synthetic tokenized-log fixture generator (FIXTURES.md).

Produces the engine's input table in exactly the BASELINE.json input_hint
shape — one row per pre-tokenized log line:

    (doc_id: string, tokens: array<int32>, n_tok: int32, source: string)

`doc_id = "{source}-{file:04d}-{line:06d}"` encodes the global line ordinal
within its source; order-sensitive semantics (first/last match, event
ordering — reference: analyzeLog.go:285,299, details.go:86) are defined over
that ordinal.

Deterministic: fixed seed, no wall clock. The decoded corpus exercises every
reference quirk the goldens pin down (SURVEY.md §5 Q1-Q11): the >1-match
keep rule (LonelyProc has exactly one matching line), exact duplicate lines
(dedup + last-index-wins events), a multi-process issue (process-order
concat), a priority tie, per-platform severity formats.

Scale path: `sample_scaled` builds arbitrarily large corpora by numpy
sampling over a generated line pool — used by bench at 10^6-10^7 rows
locally (schema mirrors the 10^12-row production shape).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from radar_log_parser_spark.codec import Vocab

ANDROID = "my-android-bucket"
IOS = "Ios"

_PROCS = [
    # (process, weight)
    ("CameraService", 18),
    ("AudioFlinger", 16),
    ("MediaServer", 14),
    ("WifiService", 12),
    ("SensorHub", 12),
    ("BatteryMgr", 10),
    ("Netd", 10),
    ("ActivityManager", 8),
]

_LEVELS = ["A", "E", "W", "I", "D", "V"]
_LEVEL_W = [1, 6, 8, 12, 10, 5]


def _messages(rng: random.Random, proc: str) -> str:
    """One message for `proc`; some templates match configured issue
    patterns with known frequencies. Values drawn from small sets so
    identical messages recur naturally."""
    r = rng.random()
    if proc == "CameraService":
        if r < 0.22:
            return f"Connection timeout after {rng.choice([1000, 3000, 5000])} ms code={rng.choice([7, 17, 42])}"
        if r < 0.30:
            return f"ANR detected in binder call txn={rng.choice([11, 12])}"
        if r < 0.55:
            return f"opened camera {rng.choice([0, 1])}"
        return f"frame capture done seq={rng.choice([100, 200, 300])}"
    if proc == "AudioFlinger":
        if r < 0.28:
            return (
                f"underrun on stream{rng.choice([1, 2, 3])} after "
                f"{rng.choice([128, 256, 512, 1024])} frames"
            )
        if r < 0.36:
            return "ANR watchdog triggered for audio thread"
        if r < 0.60:
            return f"routing output to {rng.choice(['speaker', 'headset'])}"
        return f"buffer pool resized to {rng.choice([4096, 8192])}"
    if proc == "MediaServer":
        if r < 0.10:
            return "FATAL EXCEPTION main in codec thread"
        return f"transcode job {rng.choice(['started', 'finished'])} id={rng.choice([5001, 5002, 5003])}"
    if proc == "WifiService":
        if r < 0.08:
            return "BOOT_COMPLETED broadcast sent to wifi stack"
        return f"rssi changed to -{rng.choice([40, 55, 67, 80])} dbm"
    if proc == "SensorHub":
        return f"batch flushed {rng.choice([10, 50, 100])} samples sensor={rng.choice([1, 2, 4])}"
    if proc == "BatteryMgr":
        return f"level {rng.choice([15, 50, 85, 100])} temperature {rng.choice([250, 300, 350])}"
    if proc == "Netd":
        return f"iptables rule {rng.choice(['added', 'removed'])} chain={rng.choice(['fw', 'nat'])}"
    return f"proc died pid={rng.choice([2345, 6789])}"


def _android_line(rng: random.Random, second: int, proc: str, msg: str) -> str:
    mm = 1 + (second // (31 * 86400)) % 12
    rem = second % (31 * 86400)
    dd = 1 + rem // 86400
    rem %= 86400
    hh, rem = rem // 3600, rem % 3600
    mi, ss = rem // 60, rem % 60
    ms = (second * 137) % 1000
    pid = rng.choice([1234, 2345, 34567, 4567])
    tid = rng.choice([5678, 6789, 78901])
    level = rng.choices(_LEVELS, weights=_LEVEL_W)[0]
    return (
        f"{mm:02d}-{dd:02d} {hh:02d}:{mi:02d}:{ss:02d}.{ms:03d} "
        f"{pid} {tid} {level} {proc}: {msg}"
    )


def generate_corpus(n_rows: int = 2000, seed: int = 7) -> dict[str, list[str]]:
    """source → ordered decoded lines. Android holds ≥80% of rows (skew
    requirement, FIXTURES.md §1); a handful of crafted lines pin quirks."""
    rng = random.Random(seed)
    n_ios = max(8, n_rows // 10)
    n_android = n_rows - n_ios

    android: list[str] = []
    procs, weights = zip(*_PROCS)
    second = 0
    for _ in range(n_android):
        second += rng.choice([1, 1, 2, 3])
        proc = rng.choices(procs, weights=weights)[0]
        android.append(_android_line(rng, second, proc, _messages(rng, proc)))

    # Exact duplicate lines (quirks A6/Q7): copy earlier lines verbatim,
    # including at least one issue-matching and one event-matching line.
    dup_sources = [i for i, ln in enumerate(android) if "Connection timeout" in ln][:2]
    dup_sources += [i for i, ln in enumerate(android) if "FATAL EXCEPTION" in ln][:1]
    dup_sources += rng.sample(range(len(android)), k=max(2, n_android // 200))
    for i in dup_sources:
        pos = rng.randrange(len(android))
        android.insert(pos, android[i if i < pos else min(i + 1, len(android) - 1)])

    # Exactly ONE LonelyProc line (>1-match keep rule Q1 drops it).
    lonely = _android_line(rng, second + 5, "LonelyProc", "started and immediately exited")
    android.insert(rng.randrange(len(android)), lonely)

    ios: list[str] = []
    for i in range(n_ios):
        level = rng.choice(["Error", "Warning", "Info", "Debug"])
        ios.append(f"{level} ios subsystem event idx={i} status={rng.choice(['ok', 'fail'])}")

    return {ANDROID: android, IOS: ios}


@dataclass(frozen=True)
class Fixture:
    logs_path: str  # parquet, input_hint schema
    vocab_path: str
    config_path: str
    sources: tuple[str, ...]


ARROW_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("tokens", pa.list_(pa.int32()), nullable=False),
        pa.field("n_tok", pa.int32(), nullable=False),
        pa.field("source", pa.string(), nullable=False),
    ]
)


def doc_id(source: str, line_no: int, file_no: int = 0) -> str:
    return f"{source}-{file_no:04d}-{line_no:06d}"


def corpus_to_table(corpus: dict[str, list[str]], vocab: Vocab) -> pa.Table:
    doc_ids: list[str] = []
    tokens: list[list[int]] = []
    srcs: list[str] = []
    for source in sorted(corpus):
        for line_no, text in enumerate(corpus[source]):
            ids = vocab.encode(text)
            assert vocab.decode(ids) == text, f"codec round-trip failed: {text!r}"
            doc_ids.append(doc_id(source, line_no))
            tokens.append(ids)
            srcs.append(source)
    n_tok = [len(t) for t in tokens]
    return pa.Table.from_arrays(
        [
            pa.array(doc_ids, pa.string()),
            pa.array(tokens, pa.list_(pa.int32())),
            pa.array(n_tok, pa.int32()),
            pa.array(srcs, pa.string()),
        ],
        schema=ARROW_SCHEMA,
    )


def write_fixture(out_dir: str, n_rows: int = 2000, seed: int = 7) -> Fixture:
    os.makedirs(out_dir, exist_ok=True)
    corpus = generate_corpus(n_rows=n_rows, seed=seed)
    all_lines = [ln for lines in corpus.values() for ln in lines]
    vocab = Vocab.build(all_lines)
    table = corpus_to_table(corpus, vocab)
    logs_path = os.path.join(out_dir, "logs.parquet")
    pq.write_table(table, logs_path)
    vocab_path = os.path.join(out_dir, "vocab.json")
    vocab.save(vocab_path)
    config_path = os.path.join(out_dir, "config.yaml")
    with open(config_path, "w") as f:
        f.write(FIXTURE_CONFIG_YAML)
    return Fixture(logs_path, vocab_path, config_path, tuple(sorted(corpus)))


def write_scaled_fixture(
    out_dir: str,
    n_rows: int,
    pool_rows: int = 50_000,
    seed: int = 7,
) -> Fixture:
    """Bench-scale fixture: numpy-sample `n_rows` lines from a `pool_rows`
    generated pool (line texts repeat; ordinals and doc_ids are fresh).
    Token arrays are built by flat-index gather — no per-row Python."""
    os.makedirs(out_dir, exist_ok=True)
    corpus = generate_corpus(n_rows=pool_rows, seed=seed)
    all_lines = [ln for lines in corpus.values() for ln in lines]
    vocab = Vocab.build(all_lines)
    vocab_path = os.path.join(out_dir, "vocab.json")
    vocab.save(vocab_path)
    config_path = os.path.join(out_dir, "config.yaml")
    with open(config_path, "w") as f:
        f.write(FIXTURE_CONFIG_YAML)

    rng = np.random.default_rng(seed)
    # directory of MANY part files: at 100 TB a scan has ~10^6 splits, far
    # more than cores — the sandbox fixture must reproduce splits >> cores,
    # or a single task wave's stragglers dominate and the N→4N scaling
    # measurement reads as Amdahl overhead. 256 files ≈ 8 waves at 32 cores.
    logs_path = os.path.join(out_dir, "logs.parquet")
    os.makedirs(logs_path, exist_ok=True)
    row_group_size = min(1 << 20, max(8192, n_rows // 256))
    part = 0
    for source in sorted(corpus):
        pool = corpus[source]
        share = int(round(n_rows * len(pool) / len(all_lines)))
        enc = [np.asarray(vocab.encode(t), dtype=np.int32) for t in pool]
        lens = np.array([len(e) for e in enc], dtype=np.int32)
        flat = np.concatenate(enc)
        offs = np.zeros(len(enc) + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        written = 0
        while written < share:
            chunk = min(row_group_size, share - written)
            idx = rng.integers(0, len(pool), size=chunk)
            # gather variable-length token runs via a flat take-index:
            # position-within-run + run start offset, fully vectorized
            clens = lens[idx].astype(np.int64)
            starts = offs[idx]
            total = int(clens.sum())
            run_starts = np.cumsum(clens) - clens  # start of each run in output
            within = np.arange(total, dtype=np.int64) - np.repeat(run_starts, clens)
            values = flat[np.repeat(starts, clens) + within]
            offsets = np.concatenate(([0], np.cumsum(clens))).astype(np.int32)
            tok_arr = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))
            line_nos = np.arange(written, written + chunk)
            ids = pa.array([doc_id(source, int(i)) for i in line_nos], pa.string())
            batch = pa.Table.from_arrays(
                [
                    ids,
                    tok_arr.cast(pa.list_(pa.int32())),
                    pa.array(clens.astype(np.int32)),
                    pa.array(np.full(chunk, source, dtype=object), pa.string()),
                ],
                schema=ARROW_SCHEMA,
            )
            pq.write_table(
                batch,
                os.path.join(logs_path, f"part-{part:05d}.parquet"),
                compression="snappy",
            )
            part += 1
            written += chunk
    return Fixture(logs_path, vocab_path, config_path, tuple(sorted(corpus)))


# The fixture query (FIXTURES.md §4) — shape per the reference's
# ConfigInterface (analyzeLog.go:27-39, extractFiles.go:40-68).
FIXTURE_CONFIG_YAML = """\
SpecificProcess:
  CameraService: '(?m)^.*CameraService.*$'
  AudioFlinger: '(?m)^.*AudioFlinger.*$'
  LonelyProc: '(?m)^.*LonelyProc.*$'
IssuesGeneralFields:
  Number: ''
  Details: ''
  Timestamp: '(?:0[1-9]|1[0-2])-(?:[0-2][0-9]|3[01]) (?:[01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]\\.\\d{3}'
  LogLevel: '\\d{4,5} \\d{4,5} ([AEWIDV]) '
  OtherFields:
    Pid: '\\d{4,5}'
Issues:
  ConnTimeout:
    specific_process:
      CameraService: '(?m)^.*CameraService.*$'
    regex: '(?m)^.*Connection timeout.*$'
    detailing_mode: 'separate'
    additional_fields:
      Code: 'code=\\d+'
  BufferUnderrun:
    specific_process:
      AudioFlinger: '(?m)^.*AudioFlinger.*$'
    regex: '(?m)^.*underrun.*$'
    detailing_mode: 'group'
    grouping: 'underrun on (?P<Stream>stream\\d+) after (?P<Frames>\\d+) frames'
  MultiProcIssue:
    specific_process:
      AudioFlinger: '(?m)^.*AudioFlinger.*$'
      CameraService: '(?m)^.*CameraService.*$'
    regex: '(?m)^.*ANR.*$'
    detailing_mode: 'separate'
Priority:
  ConnTimeout: 3
  BufferUnderrun: 2
  MultiProcIssue: 2
ImportantEvents:
  Boot: '(?m)^.*BOOT_COMPLETED.*$'
  Crash: '(?m)^.*FATAL EXCEPTION.*$'
"""

# Bench config: a realistic radar config is dozens of patterns (the
# reference's production YAMLs configure one regex per known issue); the
# golden fixture config above stays minimal for test readability, while the
# bench pipeline uses this superset so the measured workload is
# regex-compute-dominated like production. Some patterns intentionally never
# match (scan cost without routed rows — typical of issue catalogs).
BENCH_CONFIG_YAML = FIXTURE_CONFIG_YAML.replace(
    "SpecificProcess:\n",
    """\
SpecificProcess:
  MediaServer: '(?m)^.*MediaServer.*$'
  WifiService: '(?m)^.*WifiService.*$'
  SensorHub: '(?m)^.*SensorHub.*$'
  BatteryMgr: '(?m)^.*BatteryMgr.*$'
  Netd: '(?m)^.*Netd.*$'
  ActivityManager: '(?m)^.*ActivityManager.*$'
  KernelOops: '(?m)^.*kernel oops.*$'
  Thermald: '(?m)^.*thermald.*$'
""",
).replace(
    "Issues:\n",
    """\
Issues:
  TranscodeState:
    specific_process:
      MediaServer: '(?m)^.*MediaServer.*$'
    regex: '(?m)^.*transcode job.*$'
    detailing_mode: 'group'
    grouping: 'transcode job (?P<State>\\w+) id=(?P<Id>\\d+)'
  RssiDrop:
    specific_process:
      WifiService: '(?m)^.*WifiService.*$'
    regex: '(?m)^.*rssi changed.*$'
    detailing_mode: 'group'
    grouping: 'rssi changed to (?P<Rssi>-\\d+) (?P<Unit>dbm)'
  SensorBatch:
    specific_process:
      SensorHub: '(?m)^.*SensorHub.*$'
    regex: '(?m)^.*batch flushed.*$'
    detailing_mode: 'separate'
    additional_fields:
      Sensor: 'sensor=\\d+'
  BatteryTemp:
    specific_process:
      BatteryMgr: '(?m)^.*BatteryMgr.*$'
    regex: '(?m)^.*temperature (?:3[0-9][0-9]|[4-9][0-9][0-9]).*$'
    detailing_mode: 'separate'
  FirewallChurn:
    specific_process:
      Netd: '(?m)^.*Netd.*$'
    regex: '(?m)^.*iptables rule (?:added|removed).*$'
    detailing_mode: 'group'
    grouping: 'iptables rule (?P<Op>added|removed) chain=(?P<Chain>\\w+)'
  ProcDeath:
    specific_process:
      ActivityManager: '(?m)^.*ActivityManager.*$'
    regex: '(?m)^.*proc died.*$'
    detailing_mode: 'separate'
    additional_fields:
      Pid: 'pid=\\d+'
  WatchdogBark:
    specific_process:
      ActivityManager: '(?m)^.*ActivityManager.*$'
    regex: '(?m)^.*watchdog bark.*$'
    detailing_mode: 'separate'
  NeverMatches:
    specific_process:
      CameraService: '(?m)^.*CameraService.*$'
      AudioFlinger: '(?m)^.*AudioFlinger.*$'
    regex: '(?m)^.*segmentation fault at 0x[0-9a-f]+.*$'
    detailing_mode: 'separate'
""",
).replace(
    "Priority:\n",
    """\
Priority:
  TranscodeState: 1
  RssiDrop: 1
  SensorBatch: 1
  BatteryTemp: 2
  FirewallChurn: 1
  ProcDeath: 3
  WatchdogBark: 3
  NeverMatches: 0
""",
).replace(
    "ImportantEvents:\n",
    """\
ImportantEvents:
  Panic: '(?m)^.*kernel panic.*$'
  Thermal: '(?m)^.*thermal shutdown.*$'
""",
)
