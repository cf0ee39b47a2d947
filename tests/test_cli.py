"""End-to-end lifecycle through the spark-submit CLI surface
(cli.main drives the same code paths a cluster run exercises)."""

import json

import pytest

from ds_floodexposure_monitoring_spark.cli import main


def _run(capsys, argv):
    rc = main(argv + ["--master", "local[4]"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def test_cli_lifecycle(spark, tmpdir_path, capsys):
    log = f"{tmpdir_path}/log"
    table = f"{tmpdir_path}/table"
    ckpt = f"{tmpdir_path}/ckpt"

    g = _run(capsys, ["datagen", "--log-dir", log, "--events", "20000",
                      "--shards", "2", "--seed", "7"])
    assert g["events"] == 20000

    i1 = _run(capsys, ["ingest", "--log-dir", log, "--table-dir", table,
                       "--checkpoint-dir", ckpt, "--mode", "mor",
                       "--batch-events", "8000", "--n-buckets", "8",
                       "--compact-every", "2"])
    assert i1["batches"] >= 2 and i1["final_rows"] > 0

    # resumability: caught up -> zero new batches, state unchanged
    i2 = _run(capsys, ["ingest", "--log-dir", log, "--table-dir", table,
                       "--checkpoint-dir", ckpt, "--mode", "mor"])
    assert i2["batches"] == 0
    assert i2["final_version"] == i1["final_version"]
    assert i2["final_rows"] == i1["final_rows"]

    s = _run(capsys, ["show", "--table-dir", table])
    assert s["rows"] == i1["final_rows"]
    assert s["merge_keys"] == ["conv_id", "turn_idx"]
    live = s["live_rows"]

    c = _run(capsys, ["compact", "--table-dir", table,
                      "--compact-min-files", "1"])
    assert c["files_after"] <= c["files_before"]

    e = _run(capsys, ["expire", "--table-dir", table,
                      "--keep-snapshots", "1", "--orphan-grace-sec", "0"])
    assert e["retained_versions"][-1] == _run(
        capsys, ["show", "--table-dir", table])["version"]

    # table still reads clean after compact + vacuum: logical state
    # unchanged (physical rows shrink as compaction resolves deltas)
    s2 = _run(capsys, ["show", "--table-dir", table])
    assert s2["live_rows"] == live

    # predicate delete -> live rows shrink by the match count
    d = _run(capsys, ["delete", "--table-dir", table, "--where", "turn_idx = 0"])
    assert d["rows_matched"] > 0
    s3 = _run(capsys, ["show", "--table-dir", table])
    assert s3["live_rows"] == live - d["rows_matched"]

    # rollback undoes the delete; history lists every retained commit
    r = _run(capsys, ["rollback", "--table-dir", table,
                      "--to-version", str(s2["version"])])
    assert r["new_version"] > d["snapshot_version"]
    assert _run(capsys, ["show", "--table-dir", table])["live_rows"] == live
    h = _run(capsys, ["history", "--table-dir", table])
    assert h["snapshots"][-1]["operation"] == "rollback"
    assert h["snapshots"][-1]["committed_at"]  # ISO string via _emit default=str

    # tag the restored state; WAP: branch-ingest fresh events, publish
    t = _run(capsys, ["tag", "--table-dir", table, "--name", "golden"])
    assert t["version"] == r["new_version"]
    b = _run(capsys, ["branch", "create", "--table-dir", table, "--name", "wap"])
    assert b["at_version"] == r["new_version"]
    log2 = f"{tmpdir_path}/log2"
    _run(capsys, ["datagen", "--log-dir", log2, "--events", "5000",
                  "--shards", "2", "--seed", "8"])
    _run(capsys, ["ingest", "--log-dir", log2, "--table-dir", table,
                  "--branch", "wap", "--checkpoint-dir", f"{tmpdir_path}/ckpt2",
                  "--mode", "mor", "--batch-events", "5000"])
    assert _run(capsys, ["show", "--table-dir", table])["version"] == r["new_version"]
    p = _run(capsys, ["branch", "publish", "--table-dir", table, "--name", "wap"])
    s4 = _run(capsys, ["show", "--table-dir", table])
    # main flipped to the audited branch head; staged ingest can only
    # upsert (lower-LSN events never displace existing winners)
    assert s4["version"] == p["main_version"] and s4["live_rows"] >= live
    assert s4["version"] > r["new_version"]
    lst = _run(capsys, ["branch", "list", "--table-dir", table])
    assert lst["branches"].keys() == {"main"} and lst["tags"] == {"golden": t["version"]}

    # zero-copy clone: shares every file, reads the same live state;
    # DML on the clone never touches the source
    cl = _run(capsys, ["clone", "--table-dir", table,
                       "--dest-dir", f"{tmpdir_path}/clone"])
    assert cl["files_shared"] > 0 and cl["source_version"] == s4["version"]
    sc = _run(capsys, ["show", "--table-dir", f"{tmpdir_path}/clone"])
    assert sc["live_rows"] == s4["live_rows"]
    dc = _run(capsys, ["delete", "--table-dir", f"{tmpdir_path}/clone",
                       "--where", "turn_idx = 1"])
    assert dc["rows_matched"] > 0
    assert _run(capsys, ["show", "--table-dir", table])["live_rows"] == s4["live_rows"]


def test_cli_rejects_bad_mode(spark):
    with pytest.raises(SystemExit):
        main(["ingest", "--log-dir", "x", "--table-dir", "y",
              "--checkpoint-dir", "z", "--mode", "bogus"])


def test_cli_partitioned_ingest_and_drop(spark, tmpdir_path, capsys):
    """ingest --partition-by days(ts) + drop-partitions round trip."""
    log = f"{tmpdir_path}/log"
    tdir = f"{tmpdir_path}/t"
    _run(capsys, ["datagen", "--log-dir", log, "--events", "3000",
                  "--shards", "2"])
    r = _run(capsys, ["ingest", "--log-dir", log, "--table-dir", tdir,
                      "--checkpoint-dir", f"{tmpdir_path}/ckpt",
                      "--partition-by", "years(ts)", "--mode", "cow"])
    assert r["final_rows"] > 0
    from ds_floodexposure_monitoring_spark.sources.lake import LakeTable

    t = LakeTable.load(spark, tdir)
    assert t.partition_spec() == {"transform": "years", "col": "ts"}
    assert all(f.part is not None for f in t.files())
    d = _run(capsys, ["drop-partitions", "--table-dir", tdir,
                      "--before", "2200-01-01"])
    assert d["rows_dropped"] == r["final_rows"]


def test_cli_drop_partitions_int_identity(spark, tmpdir_path, capsys):
    """Regression (ADVICE r3): --before on an integer identity partition
    coerces to int instead of raising TypeError on int < 'str'."""
    import datetime as dt

    from ds_floodexposure_monitoring_spark.datagen.transcripts import (
        transcript_schema,
    )
    from ds_floodexposure_monitoring_spark.operators.merge import merge_into
    from ds_floodexposure_monitoring_spark.sources.lake import LakeTable

    tdir = f"{tmpdir_path}/ident"
    t = LakeTable.create(
        spark, tdir, transcript_schema(), n_buckets=2, partition_by="turn_idx"
    )
    rows = [
        (i, f"c{i}", i % 4, "user", f"t{i}", None, dt.datetime(2024, 1, 1))
        for i in range(16)
    ]
    merge_into(
        t,
        spark.createDataFrame(
            rows,
            "lsn long, conv_id string, turn_idx int, role string, "
            "text string, tool string, ts timestamp",
        ),
        batch_id="b1",
    )
    d = _run(capsys, ["drop-partitions", "--table-dir", tdir, "--before", "2"])
    assert d["dropped"] == [0, 1]
    assert LakeTable.load(spark, tdir).scan().count() == 8


def test_cli_envelope_ingest(spark, tmpdir_path, capsys):
    """ingest --log-format debezium: the JSON-envelope tail through the
    spark-submit surface lands the same live rows as the parquet tail."""
    from ds_floodexposure_monitoring_spark.datagen.transcripts import (
        write_envelope_changelog,
    )

    log = f"{tmpdir_path}/log"
    _run(capsys, ["datagen", "--log-dir", log, "--events", "8000",
                  "--shards", "2", "--seed", "13"])
    env = f"{tmpdir_path}/env"
    write_envelope_changelog(log, env, "debezium")

    a = _run(capsys, ["ingest", "--log-dir", log,
                      "--table-dir", f"{tmpdir_path}/t_pq",
                      "--checkpoint-dir", f"{tmpdir_path}/ck_pq",
                      "--mode", "mor", "--batch-events", "3000",
                      "--n-buckets", "4"])
    b = _run(capsys, ["ingest", "--log-dir", env, "--log-format", "debezium",
                      "--table-dir", f"{tmpdir_path}/t_env",
                      "--checkpoint-dir", f"{tmpdir_path}/ck_env",
                      "--mode", "mor", "--batch-events", "3000",
                      "--n-buckets", "4",
                      "--quarantine-dir", f"{tmpdir_path}/q"])
    assert b["final_rows"] == a["final_rows"] > 0
    assert b["batches"] == a["batches"]


def test_cli_index_lifecycle(spark, tmpdir_path, capsys):
    """ingest --index maintains a secondary index transactionally;
    `index lookup` answers from it; `index create --backfill` enables an
    index on a table that already has data."""
    log = f"{tmpdir_path}/log"
    table = f"{tmpdir_path}/t"
    ckpt = f"{tmpdir_path}/ck"
    ix = f"{tmpdir_path}/ix"

    _run(capsys, ["datagen", "--log-dir", log, "--events", "8000",
                  "--shards", "2", "--seed", "9"])
    i1 = _run(capsys, ["ingest", "--log-dir", log, "--table-dir", table,
                       "--checkpoint-dir", ckpt, "--mode", "mor",
                       "--batch-events", "3000", "--n-buckets", "4",
                       "--index", f"role={ix}"])
    assert i1["batches"] >= 2
    lk = _run(capsys, ["index", "lookup", "--table-dir", table,
                       "--index-dir", ix, "--column", "role",
                       "--values", "user", "--sample"])
    assert lk["rows"] > 0 and len(lk["sample"]) > 0
    assert all(r["role"] == "user" for r in lk["sample"])

    # enable-on-existing: a second index via create --backfill answers
    # identically for the same probe
    ix2 = f"{tmpdir_path}/ix2"
    c = _run(capsys, ["index", "create", "--table-dir", table,
                      "--index-dir", ix2, "--column", "role", "--backfill"])
    assert c["version"] >= 1
    lk2 = _run(capsys, ["index", "lookup", "--table-dir", table,
                        "--index-dir", ix2, "--column", "role",
                        "--values", "user"])
    assert lk2["rows"] == lk["rows"]


def test_cli_feed_subscription(spark, tmpdir_path, capsys):
    """feed poll/ack/position through the CLI: windows advance only on
    --ack; un-acked polls redeliver."""
    log = f"{tmpdir_path}/log"
    table = f"{tmpdir_path}/t"
    _run(capsys, ["datagen", "--log-dir", log, "--events", "6000",
                  "--shards", "2", "--seed", "3"])
    _run(capsys, ["ingest", "--log-dir", log, "--table-dir", table,
                  "--checkpoint-dir", f"{tmpdir_path}/ck", "--mode", "mor",
                  "--batch-events", "3000", "--n-buckets", "4"])
    cur = f"{tmpdir_path}/cursors"
    p1 = _run(capsys, ["feed", "poll", "--table-dir", table,
                       "--cursor-dir", cur, "--consumer", "c1"])
    assert not p1["caught_up"] and p1["changes"] > 0 and not p1["acked"]
    # un-acked: the same window redelivers
    p2 = _run(capsys, ["feed", "poll", "--table-dir", table,
                       "--cursor-dir", cur, "--consumer", "c1", "--ack",
                       "--out-dir", f"{tmpdir_path}/out"])
    assert (p2["from_version"], p2["to_version"]) == (
        p1["from_version"], p1["to_version"])
    assert p2["acked"] and p2["changes"] == p1["changes"]
    p3 = _run(capsys, ["feed", "poll", "--table-dir", table,
                       "--cursor-dir", cur, "--consumer", "c1"])
    assert p3["caught_up"]
    pos = _run(capsys, ["feed", "position", "--table-dir", table,
                        "--cursor-dir", cur, "--consumer", "c1"])
    assert pos["position"] == pos["head"] == p2["to_version"]
    # the written window reads back with the change columns
    import glob as _g
    assert _g.glob(f"{tmpdir_path}/out/*.parquet")


def test_cli_analyze(spark, tmpdir_path, capsys, legacy_manifest):
    """analyze CLI: stat-cols evolution + backfill of a legacy manifest
    through the spark-submit surface."""
    from ds_floodexposure_monitoring_spark.sources.lake import LakeTable

    log = f"{tmpdir_path}/log"
    table = f"{tmpdir_path}/t"
    _run(capsys, ["datagen", "--log-dir", log, "--events", "4000",
                  "--shards", "2", "--seed", "5"])
    _run(capsys, ["ingest", "--log-dir", log, "--table-dir", table,
                  "--checkpoint-dir", f"{tmpdir_path}/ck", "--mode", "cow",
                  "--n-buckets", "4"])
    t = LakeTable.load(spark, table)
    legacy_manifest(t)
    paths = {f.path for f in t.files()}
    a = _run(capsys, ["analyze", "--table-dir", table,
                      "--stat-cols", "turn_idx"])
    assert a["stat_cols"] == ["turn_idx"] and a["files_analyzed"] == len(paths)
    t = LakeTable.load(spark, table)
    assert {f.path for f in t.files()} == paths  # no data rewritten
    assert all(
        f.tombstones is not None and (f.col_sums or {}).get("turn_idx")
        for f in t.files()
    )
    assert t.count_rows() == t.scan().count()
    a2 = _run(capsys, ["analyze", "--table-dir", table])
    assert a2["files_analyzed"] == 0  # idempotent
    assert a2["version"] == a["version"]  # nothing committed


def test_cli_maintain(spark, tmpdir_path, capsys):
    """maintain CLI: dry-run plan, then the full cycle, then converged."""
    log = f"{tmpdir_path}/log"
    table = f"{tmpdir_path}/t"
    _run(capsys, ["datagen", "--log-dir", log, "--events", "6000",
                  "--shards", "3", "--seed", "9"])
    _run(capsys, ["ingest", "--log-dir", log, "--table-dir", table,
                  "--checkpoint-dir", f"{tmpdir_path}/ck", "--mode", "mor",
                  "--n-buckets", "4", "--batch-events", "2000",
                  "--compact-every", "1000000"])
    d = _run(capsys, ["maintain", "--table-dir", table, "--dry-run",
                      "--compact-at-files", "2", "--keep-snapshots", "2"])
    assert d["dry_run"] and d["plan"]["compact_mode"] in ("minor", "major")
    m = _run(capsys, ["maintain", "--table-dir", table,
                      "--compact-at-files", "2", "--keep-snapshots", "2",
                      "--orphan-grace-sec", "0"])
    assert m["compact"] is not None and m["ro_lag_rows"] == 0
    assert m["expire"]["expired_snapshots"] >= 1
    m2 = _run(capsys, ["maintain", "--table-dir", table,
                       "--compact-at-files", "2", "--keep-snapshots", "2",
                       "--orphan-grace-sec", "0"])
    assert m2["compact"] is None and m2["plan"]["compact_mode"] is None


def test_cli_erase(spark, tmpdir_path, capsys):
    """erase CLI: cascade over base + a secondary-index sidecar through
    the spark-submit surface, with history expiry."""
    from ds_floodexposure_monitoring_spark.operators import secondary_index as sx
    from ds_floodexposure_monitoring_spark.sources.lake import LakeTable

    log = f"{tmpdir_path}/log"
    table = f"{tmpdir_path}/t"
    _run(capsys, ["datagen", "--log-dir", log, "--events", "4000",
                  "--shards", "2", "--seed", "3"])
    _run(capsys, ["ingest", "--log-dir", log, "--table-dir", table,
                  "--checkpoint-dir", f"{tmpdir_path}/ck", "--mode", "cow",
                  "--n-buckets", "4"])
    t = LakeTable.load(spark, table)
    idx = sx.create_index(spark, f"{tmpdir_path}/ix", t, "role")
    sx.index_backfill(idx, t, "role")
    doomed = sorted({r.conv_id for r in t.scan().select("conv_id").collect()})[:3]
    r = _run(capsys, ["erase", "--table-dir", table,
                      "--keys", ",".join(doomed),
                      "--sidecar", f"ix={tmpdir_path}/ix:conv_id",
                      "--expire-keep-last", "1", "--orphan-grace-sec", "0"])
    assert r["base"]["rows_erased"] > 0
    assert r["sidecars"]["ix"]["rows_erased"] > 0
    assert r["expired"]["base"]["expired_snapshots"] >= 1
    left = {x.conv_id for x in t.scan().select("conv_id").collect()}
    assert not (left & set(doomed))
    ileft = {x.conv_id for x in idx.scan().select("conv_id").collect()}
    assert not (ileft & set(doomed))
