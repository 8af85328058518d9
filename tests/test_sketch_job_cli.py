"""sketch_job.py CLI grouping-sets flags: subprocess runs (own JVM — the
job calls spark.stop(), so it must not share the test session).

Covers: --rollup on a fresh fill (+ --save-states), --grouping-sets on
--from-states (no rescan) with bit-identical global estimates, the
bad-column refusal, --sketch udds estimates equal to an in-process
Arrow fill of the same generated input, and --pre-aggregate refused where
the fill ignores it.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, timeout=300):
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "sketch_job.py"), *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd=REPO,
    )


def test_sketch_job_rollup_and_from_states_grouping_sets(tmp_path):
    states = str(tmp_path / "states")
    # ROLLUP(role, tool) from one generated fill; m=0 so later state-table
    # merges are bucket-exact and estimates must match bit-for-bit
    proc = _run([
        "--generate", "20000", "--seed", "11", "--feature", "text_len",
        "--group-by", "role", "tool", "--rollup",
        "--max-buckets", "0", "--quantiles", "0.5", "0.99",
        "--save-states", states,
    ])
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [json.loads(ln) for ln in proc.stdout.strip().splitlines()
            if ln.startswith("{")]
    gids = {r["grouping_id"] for r in rows}
    assert gids == {0, 1, 3}  # (role,tool), (role), () — never (tool)
    glob_rows = [r for r in rows if r["grouping_id"] == 3]
    assert len(glob_rows) == 2  # one per quantile
    assert all(r["role"] is None and r["tool"] is None for r in glob_rows)
    finest_n = sum({(r["role"], r["tool"]): r["n"] for r in rows
                    if r["grouping_id"] == 0}.values())
    assert glob_rows[0]["n"] == finest_n  # cells partition the corpus

    # incremental: the SAME grouping sets from the saved states, no rescan
    proc2 = _run([
        "--from-states", states, "--sketch", "udds",
        "--group-by", "role", "tool", "--rollup",
        "--max-buckets", "0", "--quantiles", "0.5", "0.99",
    ])
    assert proc2.returncode == 0, proc2.stderr[-2000:]
    rows2 = [json.loads(ln) for ln in proc2.stdout.strip().splitlines()
             if ln.startswith("{")]

    def keyed(rs):
        return {(r["role"], r["tool"], r["grouping_id"], r["q"]):
                (r["est"], r["n"]) for r in rs}

    assert keyed(rows2) == keyed(rows)  # merge-order invariant, bit-exact

    # bad grouping-set column refused up front
    proc3 = _run([
        "--from-states", states, "--sketch", "udds",
        "--group-by", "role", "--grouping-sets", "nope", "--max-buckets", "0",
    ], timeout=120)
    assert proc3.returncode != 0
    assert "not in --group-by" in proc3.stderr


def test_sketch_job_udds_engines_agree(spark):
    """--sketch udds at --max-buckets 0 (the JVM fill) gives the same
    estimates as an Arrow fill (sketch_grouped / sketch_global with
    UDDSketch(m=0)) over the same generated input, grouped and global."""
    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.datagen import transcripts
    from puddsketch_spark.spark.agg import sketch_global, sketch_grouped
    from puddsketch_spark.spark.features import with_text_len

    qs = [0.1, 0.5, 0.99]
    # the CLI's --generate 20000 input: transcripts(n_conv=20000 // 8)
    df = with_text_len(transcripts(spark, n_conv=20000 // 8, seed=5))
    factory = lambda: UDDSketch(initial_alpha=0.01, m=0)  # noqa: E731
    for group in (["role"], []):
        proc = _run([
            "--generate", "20000", "--seed", "5", "--feature", "text_len",
            "--sketch", "udds", "--max-buckets", "0",
            "--quantiles", *map(str, qs), "--group-by", *group,
        ])
        assert proc.returncode == 0, proc.stderr[-2000:]
        rows = [json.loads(ln) for ln in proc.stdout.strip().splitlines()
                if ln.startswith("{")]
        cli = {(tuple(r[g] for g in group), r["q"]): r["est"] for r in rows}
        if group:
            sks = {
                tuple(r[g] for g in group): UDDSketch.from_bytes(r.state)
                for r in sketch_grouped(df, "text_len", group, factory).collect()
            }
        else:
            sks = {(): sketch_global(df, "text_len", factory)}
        arrow = {(key, q): float(sk.quantile(q))
                 for key, sk in sks.items() for q in qs}
        assert len(cli) >= 3  # every quantile of at least one group
        assert cli == arrow, group


def test_sketch_job_pre_aggregate_rejected_where_ignored():
    """--pre-aggregate only steers the Arrow-filled kernels: on --sketch udds
    without --compat (grouped or global) and on global --sketch moments the
    fill is on the JVM, so the flag is refused instead of ignored."""
    for extra in (["--sketch", "udds", "--group-by", "role"],
                  ["--sketch", "udds", "--group-by"],
                  ["--sketch", "moments", "--group-by"]):
        proc = _run(["--generate", "2000", "--pre-aggregate", *extra], timeout=120)
        assert proc.returncode != 0, extra
        assert "--pre-aggregate has no effect" in proc.stderr, (extra, proc.stderr[-500:])
