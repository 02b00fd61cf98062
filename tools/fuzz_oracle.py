#!/usr/bin/env python3
"""Property-fuzz the oracle gate: all 346 oracled queries replay over
the SAME deterministic generator tables every round, so data-dependent
edges (negative values where the generator only emits positives, NULLs
in joined/grouped/sorted columns, unicode beyond ASCII in text, empty
strings) are exercised only where a spec happened to pin them. This
harness re-runs the ENTIRE verify gate over seeded random mutations of
the sf0.001 tables: Spark and DuckDB both read the same mutated
parquet, so any divergence is a real engine-behavior difference, not a
data error.

Mutations per seed (deterministic from seed x table, schema-preserving):
  - numeric columns: ~1% sign flips, ~0.5% NULLs
  - string columns: ~1% unicode suffix (CJK / emoji / zero-width /
    combining marks), ~0.5% NULLs, ~0.3% empty strings
  - events.props stays WELL-FORMED-or-NULL (NULL injection only):
    malformed JSON makes DuckDB's json functions throw, which would
    fail the oracle rather than reveal a Spark bug
  - timestamps: ~0.3% NULLs, plus VALUE mutations (r13): ~0.3%
    pre-1970 instants (negative epoch - floor-vs-truncate day
    bucketing), ~0.3% far-future (sparse multi-year resample spans),
    ~0.2% DST-boundary instants (spring-forward nonexistent /
    fall-back ambiguous local times - any localtime conversion
    diverges)
  - embedding vectors: ~1% element sign flips, ~0.3% NULL vectors,
    plus (r13) ~0.2% each of NaN / +Inf / -Inf elements in FLOAT
    lists (the cosine/IVF/PQ family divides by norms and casts
    quantized elements to int64 - NaN::BIGINT throws in DuckDB while
    Spark's non-ANSI cast yields 0, so unguarded paths diverge loudly)

Usage:
  python3 tools/fuzz_oracle.py [--seeds 1,2,3] [--sf DIR] [--workdir DIR]
       [--mutate-only]

For each seed S: writes mutated tables to <workdir>/seed<S>/data, runs
`sbt "runMain graft.Verify <data> <out>"`, then replays the oracles
with verify_local.main over the SAME mutated data. Exit 0 iff every
seed reports 0 fail.
"""
import argparse, datetime, json, os, random, subprocess, sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

UNICODE_SUFFIXES = [
    " 日本語",          # CJK
    " naïve…",            # latin-1 accents + ellipsis
    " \U0001f600",                  # emoji (non-BMP, 4-byte UTF-8)
    "​",                       # zero-width space
    " é",                     # combining acute (NFD-style)
    " العربية",  # RTL arabic
]


def mutate_table(table, name, rng):
    """Return a new pyarrow Table with seeded mutations, same schema."""
    cols = {}
    n = table.num_rows
    for field in table.schema:
        col = table.column(field.name).to_pylist()
        t = field.type
        cname = field.name
        if pa.types.is_integer(t) or pa.types.is_floating(t):
            for i in range(n):
                r = rng.random()
                if col[i] is None:
                    continue
                if r < 0.01:
                    col[i] = -col[i]
                elif r < 0.015:
                    col[i] = None
        elif pa.types.is_string(t):
            json_only_nulls = (name == "events" and cname == "props")
            for i in range(n):
                r = rng.random()
                if col[i] is None:
                    continue
                if json_only_nulls:
                    if r < 0.005:
                        col[i] = None
                elif r < 0.01:
                    col[i] = col[i] + rng.choice(UNICODE_SUFFIXES)
                elif r < 0.015:
                    col[i] = None
                elif r < 0.018:
                    col[i] = ""
        elif pa.types.is_timestamp(t):
            for i in range(n):
                r = rng.random()
                if col[i] is None:
                    continue
                if r < 0.003:
                    col[i] = None
                elif r < 0.006:
                    # pre-1970: negative epoch - day bucketing via
                    # floor(epoch/86400) vs truncating // diverges here
                    col[i] = datetime.datetime(1969, 6, 14, 23, 45, 1, 123456)
                elif r < 0.009:
                    # far-future but bounded (+~6y): stretches resample /
                    # window grids without an unbounded row explosion
                    col[i] = datetime.datetime(2029, 12, 31, 23, 59, 59, 999999)
                elif r < 0.011:
                    # DST boundaries: US spring-forward nonexistent local
                    # time / fall-back ambiguous local time - any
                    # session-timezone localtime conversion diverges
                    col[i] = rng.choice([
                        datetime.datetime(2021, 3, 14, 2, 30, 0),
                        datetime.datetime(2021, 11, 7, 1, 30, 0)])
        elif pa.types.is_list(t):
            float_elems = pa.types.is_floating(t.value_type)
            for i in range(n):
                r = rng.random()
                if col[i] is None:
                    continue
                if r < 0.003:
                    col[i] = None
                elif r < 0.013:
                    j = rng.randrange(len(col[i]))
                    col[i] = col[i][:j] + [-col[i][j]] + col[i][j + 1:]
                elif float_elems and r < 0.019 and len(col[i]) > 0:
                    # non-finite elements: NaN / +Inf / -Inf (r13)
                    v = (float("nan") if r < 0.015
                         else float("inf") if r < 0.017 else float("-inf"))
                    j = rng.randrange(len(col[i]))
                    col[i] = col[i][:j] + [v] + col[i][j + 1:]
        cols[cname] = pa.array(col, type=t)
    return pa.table(cols, schema=table.schema)


def build_seed_dir(sf_dir, data_dir, seed):
    os.makedirs(data_dir, exist_ok=True)
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        rng = random.Random(f"graft-fuzz:{seed}:{t}")
        tbl = pq.read_table(src)
        mut = mutate_table(tbl, t, rng)
        pq.write_table(mut, os.path.join(data_dir, f"{t}.parquet"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--workdir", default="/tmp/graft_fuzz")
    ap.add_argument("--mutate-only", action="store_true",
                    help="write mutated tables, skip Verify/oracle replay")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",") if s.strip()]
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import verify_local

    failures = {}
    for seed in seeds:
        base = os.path.join(args.workdir, f"seed{seed}")
        data = os.path.join(base, "data")
        out = os.path.join(base, "out")
        print(f"=== seed {seed}: mutating {args.sf} -> {data}", flush=True)
        build_seed_dir(args.sf, data, seed)
        if args.mutate_only:
            continue
        print(f"=== seed {seed}: running graft.Verify", flush=True)
        r = subprocess.run(
            ["sbt", "-batch", f"runMain graft.Verify {data} {out}"],
            cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            tail = r.stdout.decode(errors="replace")[-3000:]
            print(f"seed {seed}: graft.Verify FAILED\n{tail}")
            failures[seed] = ["<verify-crashed>"]
            continue
        print(f"=== seed {seed}: replaying oracles in DuckDB", flush=True)
        # capture verify_local's per-query lines; keep only failures
        import io, contextlib
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = verify_local.main(data, out)
        lines = buf.getvalue().splitlines()
        fails = [l for l in lines if l.startswith("FAIL")]
        print("\n".join(fails + [lines[-1]] if lines else []))
        if rc != 0:
            failures[seed] = fails
    if args.mutate_only:
        return 0
    if failures:
        print(f"\n== FUZZ RED: {len(failures)} seed(s) with failures ==")
        for s, f in failures.items():
            print(f"  seed {s}: {len(f)} failing queries")
        return 1
    print(f"\n== FUZZ GREEN: {len(seeds)} seeds x all oracles exact ==")
    return 0


if __name__ == "__main__":
    sys.exit(main())
