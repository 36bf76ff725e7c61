"""Tests for the pipeline-orchestration layer (reference Part A surface)."""

from __future__ import annotations

import json
import os

import pytest

from vena_etl_tool_spark.catalog import load_table
from vena_etl_tool_spark.pipeline.audit import AuditLog
from vena_etl_tool_spark.pipeline.http_sink import HttpSinkConfig, post_with_retry, write_http
from vena_etl_tool_spark.pipeline.ingest import ingest_csv, validate_csv_file
from vena_etl_tool_spark.pipeline.jobs import JobRegistry
from vena_etl_tool_spark.pipeline.spec import PipelineSpec, SpecError, default_registry


@pytest.fixture()
def csv_fixture(tmp_path, spark, sf_dir):
    """Lineitem CSV with 3 corrupt rows appended (FIXTURES.md ingest-path)."""
    li = load_table(spark, sf_dir, "lineitem").limit(200)
    pdf = li.toPandas()
    path = tmp_path / "lineitem.csv"
    pdf.to_csv(path, index=False)
    with open(path, "a") as f:
        f.write("not,a,valid,row\n")
        f.write("1,2,3,4,NOT_A_NUMBER,6,7,8,A,F,2024-01-01 00:00:00\n")
        f.write("garbage line\n")
    return str(path)


def test_validate_csv_file(tmp_path):
    missing = validate_csv_file(str(tmp_path / "nope.csv"))
    assert not missing.success and "not found" in missing.error.lower()

    p = tmp_path / "data.txt"
    p.write_text("a,b\n1,2\n")
    soft = validate_csv_file(str(p))
    assert soft.success and soft.warning and ".csv" in soft.warning
    assert soft.file_name == "data.txt" and float(soft.file_size_kb) > 0


def test_ingest_quarantine_split(spark, csv_fixture):
    spec = default_registry().get("lineitem-csv")
    res = ingest_csv(spark, csv_fixture, spec)
    assert res.n_good == 200
    assert res.n_quarantined == 3
    assert res.good.schema.fieldNames()[:2] == ["l_orderkey", "l_partkey"]
    assert "_source_file" not in res.good.columns
    rows = res.quarantine.collect()
    assert any("NOT_A_NUMBER" in r.raw_record for r in rows)
    # provenance is captured inside the scan, below the cache
    assert all(r.source_file.endswith("/lineitem.csv") for r in rows), rows
    res.scan.unpersist(blocking=True)


def _cached_csv_scans(spark) -> set[int]:
    return {
        i.id()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if "FileScan csv" in str(i.name())
    }


def test_cmd_upload_reupload_reads_new_content(tmp_path, spark, csv_fixture):
    """A corrected file re-uploaded to the same path loads the new rows: the
    upload's cached scan is released once its write job is done, so the
    second ingest is not served the first file's cached rows."""
    from vena_etl_tool_spark.pipeline.cli import cmd_upload
    from vena_etl_tool_spark.pipeline.envconfig import EnvConfig

    audit = AuditLog(str(tmp_path / "logs"))
    jobs, specs = JobRegistry(spark, audit), default_registry()
    target = f"{audit.log_dir}/../{specs.get('lineitem-csv').target}"
    path = tmp_path / "upload.csv"
    lines = open(csv_fixture).read().splitlines(keepends=True)
    path.write_text("".join(lines))  # 200 good + 3 corrupt
    cached_before = _cached_csv_scans(spark)  # other tests' scans
    assert cmd_upload([str(path), "lineitem-csv"], spark, audit, jobs, specs, env_cfg=EnvConfig()) == 0
    path.write_text("".join(lines[:151]))  # header + 150 clean rows
    assert cmd_upload([str(path), "lineitem-csv"], spark, audit, jobs, specs, env_cfg=EnvConfig()) == 0

    first, second = audit.read_channel("upload-history")[-2:]
    assert (first["rowsLoaded"], first["rowsQuarantined"]) == (200, 3)
    assert (second["rowsLoaded"], second["rowsQuarantined"]) == (150, 0)
    assert spark.read.parquet(target).count() == 150
    assert _cached_csv_scans(spark) == cached_before


def test_spec_registry_validation():
    reg = default_registry()
    assert [s.spec_id for s in reg.list()] == ["lineitem-csv"]
    described = reg.get("lineitem-csv").describe()
    assert described["schema"]["type"] == "struct"
    with pytest.raises(SpecError):
        reg.get("missing-spec")
    with pytest.raises(SpecError):
        PipelineSpec("", "", "", schema=None).validate()  # type: ignore[arg-type]


def test_job_registry_batch_lifecycle(spark, tmp_path):
    jobs = JobRegistry(spark, AuditLog(str(tmp_path)))
    handle = jobs.submit_batch(lambda: spark.range(1000).count(), "count job")
    jobs.wait(handle.job_id, timeout=60)
    st = jobs.status(handle.job_id)
    assert st["state"] == "SUCCEEDED"
    assert handle.result == 1000
    with pytest.raises(KeyError):
        jobs.status("nope")


def test_job_registry_failure_is_captured(spark, tmp_path):
    jobs = JobRegistry(spark, AuditLog(str(tmp_path)))

    def boom():
        raise RuntimeError("exploded")

    handle = jobs.submit_batch(boom)
    jobs.wait(handle.job_id, timeout=30)
    assert handle.state == "FAILED"
    assert "exploded" in handle.error


def test_audit_log_channels(tmp_path):
    audit = AuditLog(str(tmp_path / "logs"))
    audit.log_upload({"fileName": "x.csv"})
    audit.log_job_operation({"jobId": "j1"})
    audit.log_api_operation({"operation": "list"})
    audit.log_error({"error": "boom"})
    for channel in ("upload-history", "job-history", "api-history", "error"):
        records = audit.read_channel(channel)
        assert len(records) == 1
        assert "timestamp" in records[0]  # ISO-8601 prefix like the reference
        # shape check: one JSON object per line
        raw = open(os.path.join(audit.log_dir, f"{channel}.jsonl")).read().strip()
        assert json.loads(raw)


def test_basic_auth_headers():
    from vena_etl_tool_spark.pipeline.http_sink import basic_auth_headers

    h = basic_auth_headers("user", "pass")
    assert h["authorization"] == "Basic dXNlcjpwYXNz"  # base64("user:pass")
    assert h["accept"] == "application/json"
    with pytest.raises(ValueError):
        basic_auth_headers("user", "")


def test_post_with_retry_backoff():
    attempts, sleeps = [], []

    def flaky(url, body, headers):
        attempts.append(1)
        if len(attempts) < 3:
            raise IOError("503")
        return 200

    assert post_with_retry("http://x", b"{}", {}, flaky, retries=3,
                           backoff_s=0.3, sleep=sleeps.append) == 200
    assert len(attempts) == 3
    assert sleeps == [0.3, 0.6]  # exponential doubling, templates.js:39

    with pytest.raises(IOError):
        post_with_retry("http://x", b"{}", {}, lambda *a: (_ for _ in ()).throw(IOError("down")),
                        retries=2, backoff_s=0.01, sleep=lambda s: None)


def test_http_sink_batches(spark, tmp_path):
    """write_http posts every partition's rows as JSONL with idempotency
    keys. The fake transport runs on executor python workers, so it
    captures through the shared local filesystem."""
    capture_dir = str(tmp_path / "sent")
    os.makedirs(capture_dir, exist_ok=True)

    def fs_transport(url, body, headers):
        import uuid as _uuid

        assert url == "http://sink.test/batch"
        key = headers["idempotency-key"]
        assert key.startswith("p")
        with open(os.path.join(capture_dir, f"{key}-{_uuid.uuid4().hex}.jsonl"), "wb") as f:
            f.write(body)
        return 200

    df = spark.range(0, 20, 1, 2).selectExpr("id", "id * 2 AS doubled")
    write_http(df, HttpSinkConfig(url="http://sink.test/batch", batch_size=7),
               transport=fs_transport)
    rows = []
    for fn in os.listdir(capture_dir):
        with open(os.path.join(capture_dir, fn)) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    assert len(rows) == 20
    assert {r["id"] for r in rows} == set(range(20))
    assert all(r["doubled"] == r["id"] * 2 for r in rows)
    # 2 partitions × batch_size 7 over 10 rows each → 2 flushes per partition
    assert len(os.listdir(capture_dir)) == 4


def test_cli_end_to_end(tmp_path, csv_fixture, capsys):
    from vena_etl_tool_spark.pipeline import cli

    assert cli.main(["help"]) == 0
    assert cli.main(["templates", "--log-dir", str(tmp_path / "logs")]) == 0
    assert cli.main(["template", "lineitem-csv", "--log-dir", str(tmp_path / "logs")]) == 0
    rc = cli.main(["upload", csv_fixture, "lineitem-csv", "--log-dir", str(tmp_path / "logs")])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Loaded 200 rows (3 quarantined)" in out
    audit = AuditLog(str(tmp_path / "logs"))
    uploads = audit.read_channel("upload-history")
    assert uploads and uploads[-1]["rowsLoaded"] == 200
    job_id = uploads[-1]["jobId"]
    assert cli.main(["status", job_id, "--log-dir", str(tmp_path / "logs")]) == 1  # new registry → unknown
    assert cli.main(["nonexistent.csv"]) == 1  # default-to-upload path: missing file


# --- multipart upload fidelity (VERDICT r10 #6) -----------------------------


def test_encode_multipart_body_shape():
    """The body must be exactly the reference's FormData shape
    (templates.js:140-144): one part, field `file`, the caller's
    filename, Content-Type text/csv, CRLF framing, closing boundary."""
    from vena_etl_tool_spark.pipeline.http_sink import encode_multipart

    payload = b"l_orderkey,l_partkey\n1,2\n"
    body, ctype = encode_multipart(payload, "lineitem.csv")
    assert ctype.startswith("multipart/form-data; boundary=")
    boundary = ctype.split("boundary=", 1)[1]
    assert body.startswith(f"--{boundary}\r\n".encode())
    head, _, rest = body.partition(b"\r\n\r\n")
    assert b'Content-Disposition: form-data; name="file"; filename="lineitem.csv"' in head
    assert b"Content-Type: text/csv" in head
    assert rest == payload + f"\r\n--{boundary}--\r\n".encode()
    # deterministic: same payload -> same body (safe idempotent retries)
    assert encode_multipart(payload, "lineitem.csv") == (body, ctype)
    # boundary never collides with the payload
    body2, ctype2 = encode_multipart(body, "nested.csv")
    assert ctype2.split("boundary=", 1)[1].encode() not in body


def test_upload_file_multipart_retries_then_posts():
    from vena_etl_tool_spark.pipeline.http_sink import upload_file_multipart

    calls = []

    def flaky(url, body, headers):
        calls.append((url, body, headers))
        return 500 if len(calls) == 1 else 200

    status = upload_file_multipart(
        "http://x/api/public/v1/etl/templates/t1/startWithFile",
        b"a,b\n1,2\n",
        "f.csv",
        {"authorization": "Basic zz"},
        transport=flaky,
        sleep=lambda s: None,
    )
    assert status == 200 and len(calls) == 2
    url, body, headers = calls[-1]
    assert headers["content-type"].startswith("multipart/form-data; boundary=")
    assert headers["authorization"] == "Basic zz"
    assert b'name="file"' in body and b"a,b\n1,2\n" in body


# --- dotenv-parity env config (VERDICT r10 #7) ------------------------------


def test_parse_env_file_semantics(tmp_path):
    from vena_etl_tool_spark.pipeline.envconfig import load_config, parse_env_file

    text = (
        "# comment\n"
        "VENA_USERNAME=alice\n"
        "export VENA_PASSWORD='s3cret#not-a-comment'\n"
        'VENA_API_URL="http://etl.test"\n'
        "VENA_TEMPLATE_ID=t42 # trailing comment\n"
        "MALFORMED LINE\n"
    )
    parsed = parse_env_file(text)
    assert parsed == {
        "VENA_USERNAME": "alice",
        "VENA_PASSWORD": "s3cret#not-a-comment",
        "VENA_API_URL": "http://etl.test",
        "VENA_TEMPLATE_ID": "t42",
    }
    envfile = tmp_path / ".env"
    envfile.write_text(text)
    # process environment WINS over the file (npm dotenv default)
    cfg = load_config(str(envfile), environ={"VENA_USERNAME": "bob"})
    assert cfg.username == "bob" and cfg.password == "s3cret#not-a-comment"
    assert cfg.api_url == "http://etl.test" and cfg.template_id == "t42"


def test_validate_config_fails_fast_like_reference():
    from vena_etl_tool_spark.pipeline.envconfig import (
        ConfigError,
        EnvConfig,
        validate_config,
    )

    with pytest.raises(ConfigError, match="VENA_USERNAME and VENA_PASSWORD"):
        validate_config(EnvConfig(api_url="http://etl.test", username="u"))
    validate_config(EnvConfig(username="u", password="p"))  # no raise


def test_cmd_upload_env_config_paths(tmp_path, spark, csv_fixture, capsys):
    """cmd_upload mirrors validateConfig semantics (config.js:28-34):
    an HTTP target without credentials exits 1 BEFORE any work; with
    credentials it posts the raw CSV as multipart to the template's
    startWithFile endpoint, template id from VENA_TEMPLATE_ID."""
    from vena_etl_tool_spark.pipeline.cli import build_services, cmd_upload
    from vena_etl_tool_spark.pipeline.envconfig import EnvConfig

    _, audit, jobs, specs = build_services(str(tmp_path / "logs"))

    bad = EnvConfig(api_url="http://etl.test")
    rc = cmd_upload([csv_fixture], spark, audit, jobs, specs, env_cfg=bad)
    assert rc == 1
    assert "credentials not found" in capsys.readouterr().out.lower()

    calls = []
    good = EnvConfig(
        api_url="http://etl.test",
        template_id="lineitem-csv",
        username="u",
        password="p",
    )
    rc = cmd_upload(
        [csv_fixture],
        spark,
        audit,
        jobs,
        specs,
        env_cfg=good,
        transport=lambda u, b, h: calls.append((u, b, h)) or 200,
    )
    assert rc == 0 and len(calls) == 1
    url, body, headers = calls[0]
    assert url == "http://etl.test/api/public/v1/etl/templates/lineitem-csv/startWithFile"
    assert headers["content-type"].startswith("multipart/form-data")
    assert headers["authorization"].startswith("Basic ")
    with open(csv_fixture, "rb") as f:
        assert f.read() in body
