"""sketch_job.py CLI grouping-sets flags: subprocess runs (own JVM — the
job calls spark.stop(), so it must not share the test session).

Covers: --rollup on a fresh fill (+ --save-states), --grouping-sets on
--from-states (no rescan) with bit-identical global estimates, the
bad-column refusal, --sketch udds estimates equal to an in-process
Arrow fill of the same generated input, global --sketch kll/tdigest,
grouped --sketch hll/theta resuming from --checkpoint, global --sketch
udds --compat, NULL (never NaN) statistics of a one-value --from-states
moments table, a global --checkpoint or a --sketch dd --checkpoint
refused where the job would ignore them, --save-states or
--checkpoint refused with --from-states, a --feature text_len
--checkpoint resume after an appended file equal to a fill without
--checkpoint, and a non-local or --feature latency_s --checkpoint
refused before any Spark work.
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


def test_sketch_job_global_compat(spark):
    """A bare --group-by (global) --sketch udds --compat fills through
    sketch_global: one q/est row per quantile, equal to an in-process
    compat fill of the same generated input."""
    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.datagen import transcripts
    from puddsketch_spark.spark.agg import sketch_global
    from puddsketch_spark.spark.features import with_text_len

    qs = [0.1, 0.5, 0.99]
    proc = _run(["--generate", "2000", "--seed", "5", "--feature", "text_len",
                 "--sketch", "udds", "--compat", "--max-buckets", "0",
                 "--quantiles", *map(str, qs), "--group-by"])
    assert proc.returncode == 0, proc.stderr[-2000:]
    df = with_text_len(transcripts(spark, n_conv=2000 // 8, seed=5))
    sk = sketch_global(df, "text_len",
                       lambda: UDDSketch(initial_alpha=0.01, m=0, compat=True))
    assert _rows(proc) == [{"q": q, "est": float(sk.quantile(q))} for q in qs]


def test_sketch_job_global_kll_and_tdigest():
    """A bare --group-by (global) --sketch kll / tdigest prints one q/est row
    per quantile, in the generated text_len range (1..999)."""
    qs = [0.1, 0.5, 0.9]
    for sketch in ("kll", "tdigest"):
        proc = _run(["--generate", "2000", "--sketch", sketch, "--group-by",
                     "--quantiles", *map(str, qs)])
        assert proc.returncode == 0, (sketch, proc.stderr[-2000:])
        rows = [json.loads(ln) for ln in proc.stdout.strip().splitlines()
                if ln.startswith("{")]
        assert [r["q"] for r in rows] == qs, sketch
        ests = [r["est"] for r in rows]
        assert ests == sorted(ests) and 1 <= ests[0] and ests[-1] <= 999, sketch


def test_sketch_job_global_checkpoint_refused(tmp_path):
    """--checkpoint resumes a grouped per-partition state table; without
    --group-by there is none, so the job refuses instead of ignoring the
    flag (udds, moments) or failing inside the grouped merge (kll, tdigest)."""
    for sketch in ("udds", "kll", "tdigest", "moments"):
        proc = _run(["--generate", "2000", "--sketch", sketch, "--group-by",
                     "--checkpoint", str(tmp_path / "ckpt")], timeout=120)
        assert proc.returncode != 0, sketch
        assert "--checkpoint needs --group-by" in proc.stderr, (sketch, proc.stderr[-500:])


def _rows(proc):
    return [json.loads(ln) for ln in proc.stdout.strip().splitlines()
            if ln.startswith("{")]


def test_sketch_job_grouped_checkpoint_hll_theta(tmp_path):
    """Grouped --sketch hll / theta with --checkpoint fill through the
    resumable per-partition state table: the checkpoint directory is
    written, and the estimates equal a fill without it."""
    for sketch in ("hll", "theta"):
        ckpt = tmp_path / f"ckpt_{sketch}"
        base = ["--generate", "2000", "--sketch", sketch, "--feature", "conv_id",
                "--group-by", "role"]
        proc = _run([*base, "--checkpoint", str(ckpt)])
        assert proc.returncode == 0, (sketch, proc.stderr[-2000:])
        assert ckpt.is_dir() and any(ckpt.rglob("*.parquet")), sketch
        plain = _run(base)
        assert plain.returncode == 0, (sketch, plain.stderr[-2000:])
        key = lambda r: r["role"]  # noqa: E731
        assert sorted(_rows(proc), key=key) == sorted(_rows(plain), key=key), sketch


def test_sketch_job_text_len_checkpoint_resume_after_append(spark, tmp_path):
    """The default --feature text_len is derived after the read, so the
    resume re-derives it for the appended file: a --checkpoint run over 3
    files, then a resume after a 4th lands, equals a fill of all 4 without
    --checkpoint (--max-buckets 0: the Arrow and JVM fills agree exactly)."""
    from puddsketch_spark.datagen import transcripts

    src = tmp_path / "src"
    (transcripts(spark, n_conv=400, avg_turns=6, seed=7)
     .select("conv_id", "role", "text").repartition(4).write.parquet(str(src)))
    last = sorted(src.glob("*.parquet"))[-1]
    aside = tmp_path / "held_back.parquet"
    last.rename(aside)
    qs = [i / 20 for i in range(1, 20)]
    base = ["--input", str(src), "--feature", "text_len", "--group-by", "role",
            "--max-buckets", "0", "--quantiles", *map(str, qs)]
    ckpt = tmp_path / "ckpt"

    def est(args):
        proc = _run(args)
        assert proc.returncode == 0, proc.stderr[-2000:]
        return {(r["role"], r["q"]): r["est"] for r in _rows(proc)}

    first = est([*base, "--checkpoint", str(ckpt)])
    aside.rename(last)  # the 4th file lands; rename keeps its fingerprint
    resumed = est([*base, "--checkpoint", str(ckpt)])
    plain = est(base)
    assert len(plain) >= 3 * len(qs)  # every quantile of at least 3 roles
    assert first != plain  # the appended file moves the estimates
    assert resumed == plain
    with open(ckpt / "_sketch_manifest.json") as f:
        assert [len(r["scanned"]) for r in json.load(f)["runs"]] == [3, 1]


def test_sketch_job_checkpoint_refusals(tmp_path):
    """--checkpoint is refused before any Spark work when its path is not
    local (the manifest is written with local file I/O) or with --feature
    latency_s (its window runs over a conversation, which can span files)."""
    ckpt = tmp_path / "ckpt"
    for extra, msg in (
        (["--checkpoint", "s3://bucket/ckpt"], "is not local"),
        (["--feature", "latency_s", "--checkpoint", str(ckpt)],
         "cannot resume --feature latency_s"),
    ):
        proc = _run(["--generate", "2000", "--group-by", "role", *extra], timeout=120)
        assert proc.returncode != 0, extra
        assert msg in proc.stderr, (extra, proc.stderr[-500:])
    assert not ckpt.exists()


def test_sketch_job_dd_checkpoint_refused(tmp_path):
    """--sketch dd fills on the JVM histogram and keeps no per-partition
    state, so a --checkpoint is refused instead of ignored."""
    ckpt = tmp_path / "ckpt"
    proc = _run(["--generate", "2000", "--sketch", "dd", "--group-by", "role",
                 "--checkpoint", str(ckpt)], timeout=120)
    assert proc.returncode != 0
    assert "--checkpoint has no effect on --sketch dd" in proc.stderr, proc.stderr[-500:]
    assert not ckpt.exists()


def test_sketch_job_from_states_moments_single_value_is_null(tmp_path):
    """A one-value moments state table rolled up globally and grouped from
    --from-states gives JSON null skewness and kurtosis on both paths, as
    moments_stats does: never a bare NaN, which is not valid JSON."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from puddsketch_spark.core import MomentsSketch

    states = tmp_path / "states"
    states.mkdir()
    blob = MomentsSketch().update(np.array([3.5])).to_bytes()
    pq.write_table(pa.table({"role": ["user"], "state": pa.array([blob], pa.binary()),
                             "sketch_kernel": ["moments"]}),
                   str(states / "part-0.parquet"))
    for group in ([], ["role"]):
        proc = _run(["--from-states", str(states), "--sketch", "moments",
                     "--group-by", *group], timeout=180)
        assert proc.returncode == 0, (group, proc.stderr[-2000:])
        assert "NaN" not in proc.stdout, (group, proc.stdout)
        (row,) = _rows(proc)
        assert row["n"] == 1 and row["mean"] == 3.5 and row["variance"] == 0.0, group
        assert row["skewness"] is None and row["kurtosis"] is None, (group, row)


def test_sketch_job_from_states_refuses_save_states_and_checkpoint(tmp_path):
    """--from-states merges a saved state table and runs no fill, so a
    --save-states or --checkpoint next to it is refused before any Spark
    work instead of being ignored (exit 0 and no directory written)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from puddsketch_spark.core import MomentsSketch

    states = tmp_path / "states"
    states.mkdir()
    blob = MomentsSketch().update(np.array([3.5])).to_bytes()
    pq.write_table(pa.table({"role": ["user"], "state": pa.array([blob], pa.binary()),
                             "sketch_kernel": ["moments"]}),
                   str(states / "part-0.parquet"))
    for flag in ("--save-states", "--checkpoint"):
        out = tmp_path / flag.strip("-")
        proc = _run(["--from-states", str(states), "--sketch", "moments",
                     "--group-by", "role", flag, str(out)], timeout=120)
        assert proc.returncode != 0, flag
        assert f"{flag} has no effect with --from-states" in proc.stderr, (
            flag, proc.stderr[-500:])
        assert not out.exists(), flag
