"""Deterministic synthetic transcript generator (FIXTURES.md spec).

Produces the fact table the engine runs on:

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

plus the tiny broadcast-dimension tables (role_class, tool_family,
engine_params, byte_ranges, name_groups). The ``text`` column is a
combined-log-format analog — the grok target — so the parse stage is a
genuine field extractor, mirroring the reference's CLF/combined parser
[parser.c ƒparse_record_web].

Everything is seeded numpy ``default_rng``; no external data. Generation is
fully vectorized (numpy + pyarrow compute) so the 10–50M-turn bench fixture
builds in seconds-to-minutes, and chunked so memory stays bounded.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool", "agent"])
ROLE_P = np.array([0.35, 0.40, 0.05, 0.15, 0.05])

TOOLS = np.array([
    "search", "browser", "bash", "python", "sql", "edit", "read", "write",
    "fetch", "grep", "glob", "diff", "patch", "lint", "test", "build",
    "deploy", "notebook", "plot", "index", "embed", "rank", "cache", "queue",
])
TOOL_FAMILY = {
    "search": "retrieval", "grep": "retrieval", "glob": "retrieval",
    "index": "retrieval", "rank": "retrieval",
    "bash": "execution", "python": "execution", "test": "execution",
    "build": "execution", "deploy": "execution",
    "edit": "fs", "read": "fs", "write": "fs", "diff": "fs", "patch": "fs",
    "browser": "web", "fetch": "web",
    "sql": "data", "notebook": "data", "plot": "data", "embed": "data",
    "lint": "other", "cache": "other", "queue": "other",
}
ROLE_CLASS = {
    "user": "human", "assistant": "model", "system": "control",
    "tool": "machine", "agent": "machine",
}
VERBS = np.array(["CALL", "SAY", "THINK", "OBSERVE"])
STATUS = np.array([200, 206, 304, 404, 500, 403])
STATUS_P = np.array([0.82, 0.02, 0.04, 0.06, 0.04, 0.02])
AGENT_FAMILIES = np.array([
    "claude", "gpt", "gemini", "llama", "mistral", "command",
    "qwen", "deepseek", "phi", "yi", "falcon", "jamba",
])
AGENT_OS = np.array(["linux", "darwin", "win32"])
QWORDS = np.array([
    "spark", "shuffle", "parquet", "window", "join", "broadcast", "skew",
    "salt", "codegen", "arrow", "pandas", "catalyst", "iceberg", "stream",
    "session", "grok",
])
N_ENGINES = 8

DATETIME_FMT = "%d/%b/%Y:%H:%M:%S +0000"
SPARK_TS_FMT = "dd/MMM/yyyy:HH:mm:ss Z"  # to_timestamp pattern for the above

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])


@dataclass(frozen=True)
class GenParams:
    n_convs: int = 2_000
    seed: int = 42
    max_turns: int = 200
    zipf_s: float = 1.3
    hot_convs: int = 3          # K convs get hot_mult x turns (skew fixture)
    hot_mult: int = 50
    start_ts: str = "2024-01-01"
    window_days: int = 90
    corrupt_p: float = 0.01


def _zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** 1.1
    return w / w.sum()


def _conv_sizes(p: GenParams, rng: np.random.Generator) -> np.ndarray:
    sizes = rng.zipf(p.zipf_s, p.n_convs).clip(1, p.max_turns)
    if p.hot_convs > 0:
        hot = min(p.hot_convs, p.n_convs)
        sizes[:hot] = np.minimum(sizes[:hot] * p.hot_mult + p.max_turns,
                                 p.max_turns * p.hot_mult)
    return sizes.astype(np.int64)


def _fmt_ts(ts_us: np.ndarray) -> pa.Array:
    """Vectorized CLF datetime rendering via Arrow C++ strftime."""
    arr = pa.array(ts_us // 1_000_000, type=pa.timestamp("s"))
    return pc.strftime(arr, format=DATETIME_FMT)


def _gen_chunk(conv_lo: int, sizes: np.ndarray, starts_us: np.ndarray,
               p: GenParams, rng: np.random.Generator) -> pa.Table:
    """Generate all turns for convs [conv_lo, conv_lo+len(sizes))."""
    n = int(sizes.sum())
    conv_ord = np.arange(conv_lo, conv_lo + len(sizes))
    conv_rep = np.repeat(conv_ord, sizes)

    # turn_idx: 0..k-1 within each conv
    seg_start = np.repeat(np.cumsum(sizes) - sizes, sizes)
    turn_idx = (np.arange(n) - seg_start).astype(np.int32)

    # inter-turn gaps: 80% U(1s,20min), 20% U(31min,4h); first turn gap=0
    short = rng.uniform(1, 1200, n)
    long = rng.uniform(1860, 14400, n)
    gaps = np.where(rng.random(n) < 0.8, short, long)
    gaps[turn_idx == 0] = 0.0
    cum = np.cumsum(gaps)
    cum_at_start = np.repeat(cum[seg_start[np.flatnonzero(turn_idx == 0)]]
                             - gaps[turn_idx == 0], sizes)
    # whole-second granularity: the CLF datetime in `text` must equal ts
    # exactly (per-turn text-equality anchor, FIXTURES.md §2)
    ts_us = (np.repeat(starts_us, sizes)
             + (cum - cum_at_start).astype(np.int64) * 1_000_000)

    role = ROLES[rng.choice(len(ROLES), n, p=ROLE_P)]
    tool_null = rng.random(n) < 0.60
    tool = TOOLS[rng.choice(len(TOOLS), n, p=_zipf_weights(len(TOOLS)))]
    tool = np.where(tool_null, None, tool)

    # --- text column (combined-log grammar, FIXTURES.md §2) ---
    ident_n = rng.integers(0, 50, n)
    ident = np.where(rng.random(n) < 0.90, "-",
                     np.char.add("u", ident_n.astype(str)))
    verb = VERBS[rng.integers(0, len(VERBS), n)]
    path = np.where(tool_null,
                    np.char.add("msg/", role.astype(str)),
                    tool.astype(str))
    status = STATUS[rng.choice(len(STATUS), n, p=STATUS_P)]
    nbytes = np.exp(rng.normal(6.5, 1.5, n)).astype(np.int64) + 1
    bytes_str = np.where(rng.random(n) < 0.03, "-", nbytes.astype(str))
    eng = rng.integers(0, N_ENGINES, n)
    nw = rng.integers(2, 4, n)
    w = QWORDS[rng.integers(0, len(QWORDS), (n, 3))]
    terms = np.where(nw == 2,
                     np.char.add(np.char.add(w[:, 0], "+"), w[:, 1]),
                     np.char.add(np.char.add(np.char.add(np.char.add(
                         w[:, 0], "+"), w[:, 1]), "+"), w[:, 2]))
    referrer = np.where(
        rng.random(n) < 0.70, "-",
        np.char.add(np.char.add(np.char.add(
            "proto://eng-", eng.astype(str)), ".example/?q="), terms))
    fam = AGENT_FAMILIES[rng.integers(0, len(AGENT_FAMILIES), n)]
    major = rng.integers(1, 9, n).astype(str)
    minor = rng.integers(0, 30, n).astype(str)
    osn = AGENT_OS[rng.integers(0, len(AGENT_OS), n)]
    agent = np.char.add(np.char.add(np.char.add(np.char.add(np.char.add(
        fam, "/"), major), "."), minor),
        np.char.add(np.char.add(" (", osn), ")"))

    dt = _fmt_ts(ts_us)
    parts = [
        pa.array(role), pa.array(np.char.add(" ", ident.astype(str))),
        pa.array(np.char.add(" ", ident.astype(str))),  # user == ident analog
        pa.array([" ["] * n), dt, pa.array(['] "'] * n),
        pa.array(verb), pa.array([" /"] * n), pa.array(path),
        pa.array([' PROTO/1.1" '] * n), pa.array(status.astype(str)),
        pa.array(np.char.add(" ", bytes_str.astype(str))),
        pa.array([' "'] * n), pa.array(referrer.astype(str)),
        pa.array(['" "'] * n), pa.array(agent), pa.array(['"'] * n),
    ]
    text = pc.binary_join_element_wise(*parts, "")

    # corruption: p=.01 rows mutilated -> must route to errors sink
    bad = rng.random(n) < p.corrupt_p
    if bad.any():
        tnp = text.to_numpy(zero_copy_only=False).astype(object)
        idx = np.flatnonzero(bad)
        kind = rng.integers(0, 3, idx.size)
        for i, k in zip(idx, kind):
            s = tnp[i]
            if k == 0:
                tnp[i] = s[: max(3, len(s) // 3)]          # truncated
            elif k == 1:
                tnp[i] = s.replace('"', "", 1)             # unbalanced quote
            else:
                tnp[i] = s.replace("[", "[??/", 1)         # garbage datetime
        text = pa.array(tnp, type=pa.string())

    conv_str = pc.binary_join_element_wise(
        "conv-", pc.utf8_lpad(pa.array(conv_rep.astype(str)), 8, "0"), "")

    tbl = pa.table({
        "conv_id": conv_str,
        "turn_idx": pa.array(turn_idx, type=pa.int32()),
        "role": pa.array(role),
        "text": text,
        "tool": pa.array(tool, type=pa.string()),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
    })
    # rows written shuffled (not (conv_id, turn_idx) order): order-independence
    perm = rng.permutation(n)
    return tbl.take(pa.array(perm))


def gen_transcripts(out_dir: str, params: GenParams | None = None) -> str:
    """Write transcripts.parquet under out_dir; returns the file path."""
    p = params or GenParams()
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "transcripts.parquet")
    rng = np.random.default_rng(p.seed)
    sizes = _conv_sizes(p, rng)
    start = np.datetime64(p.start_ts, "us").astype(np.int64)
    span_s = int(p.window_days * 86400)
    starts_us = start + rng.integers(0, span_s, p.n_convs) * 1_000_000

    # modest row groups so Spark's byte-range splits actually parallelize
    # a single-file local fixture (100 TB inputs have many files anyway)
    writer = pq.ParquetWriter(path, TRANSCRIPT_SCHEMA)
    row_group_rows = 128 * 1024
    # the chunk size seeds each chunk's rng: changing it changes the data
    convs_per_chunk = 50_000
    try:
        for lo in range(0, p.n_convs, convs_per_chunk):
            hi = min(lo + convs_per_chunk, p.n_convs)
            chunk_rng = np.random.default_rng(p.seed * 1_000_003 + lo)
            tbl = _gen_chunk(lo, sizes[lo:hi], starts_us[lo:hi], p, chunk_rng)
            writer.write_table(tbl, row_group_size=row_group_rows)
    finally:
        writer.close()
    return path


def gen_dimensions(out_dir: str) -> dict[str, str]:
    """Write the tiny broadcast dimension tables (FIXTURES.md §3)."""
    os.makedirs(out_dir, exist_ok=True)
    out: dict[str, str] = {}

    def w(name: str, tbl: pa.Table) -> None:
        pth = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, pth)
        out[name] = pth

    w("role_class", pa.table({
        "role": list(ROLE_CLASS), "actor_class": list(ROLE_CLASS.values())}))
    w("tool_family", pa.table({
        "tool": list(TOOL_FAMILY), "tool_family": list(TOOL_FAMILY.values())}))
    w("engine_params", pa.table({
        "engine_host": [f"eng-{k}.example" for k in range(N_ENGINES)],
        "query_param": ["q"] * N_ENGINES}))
    # GeoDB range-lookup analog [dns_resolv.c GeoDB]: bytes -> size class
    w("byte_ranges", pa.table({
        "lo": pa.array([0, 256, 1024, 4096, 65536, 1048576], pa.int64()),
        "hi": pa.array([255, 1023, 4095, 65535, 1048575, 2**62], pa.int64()),
        "size_class": ["tiny", "small", "medium", "large", "huge", "giant"]}))
    # wildcard name-groups for grouping-sets tests (GroupURL analog)
    w("name_groups", pa.table({
        "pattern": ["py*", "s*", "*ch", "read"],
        "group_name": ["python-tools", "s-tools", "ch-suffix", "readers"]}))
    return out


def ensure_fixture(base_dir: str, params: GenParams | None = None,
                   tag: str = "sf_test") -> str:
    """Idempotently materialize a fixture dir; returns its path."""
    p = params or GenParams()
    d = os.path.join(base_dir, tag)
    marker = os.path.join(d, ".complete")
    if os.path.exists(marker):
        return d
    gen_transcripts(d, p)
    gen_dimensions(d)
    with open(marker, "w") as f:
        f.write(f"seed={p.seed} n_convs={p.n_convs}\n")
    return d
