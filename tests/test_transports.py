"""Mocked-HTTP tests for the Datadog / CloudWatch transports.

Pin the reference's wire semantics: DD success is exactly HTTP 202
(metrics.go:160-168); a non-202 retries 5x from 50 ms then raises so
the sink parks the batch (alerts_consumer.go:257-269); CW
PutMetricData is a SigV4-signed form POST with <=20 data
(allowlist.go:6-7).

The DD transport submits from executors (``foreachPartition``), so
payload/chunk/retry shape is unit-tested driver-side through
``submit_partition``/``post_series`` with a fake ``urlopen``, and the
executor path end-to-end against a real localhost HTTP server (the
only observable channel out of the Python workers).
"""

from __future__ import annotations

import datetime
import http.server
import io
import json
import threading
import urllib.parse

import pytest

from kinesis_alerts_consumer_spark.streaming.sinks import (
    MetricsSink,
    RetryPolicy,
)
from kinesis_alerts_consumer_spark.streaming.transports import (
    AwsCredentials,
    CloudWatchTransport,
    DatadogTransport,
    TransportError,
)

DD_SCHEMA = (
    "tag string, metric string, mtype string, tags array<string>, "
    "ts long, value double"
)
CW_SCHEMA = (
    "tag string, metric_name string, "
    "dimensions array<struct<name:string, value:string>>, "
    "value double, ts long, storage_resolution int"
)


class FakeResponse(io.BytesIO):
    def __init__(self, status: int = 202):
        super().__init__(b"{}")
        self.status = status

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def dd_frame(spark, n=2):
    rows = [
        ("default", "kv.series-name", "count", ["env:test", "x:1"], 1500 + i,
         float(i))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, DD_SCHEMA)


def cw_frame(spark, n=2, tag="us-west-2"):
    rows = [
        (tag, "ContainerExitCount", [("env", "prod")], float(i),
         1500 + i, 1)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, CW_SCHEMA)


def dd_rows(n=2):
    """Plain-dict dd_points rows for driver-side partition-level tests."""
    return [
        {
            "tag": "default",
            "metric": "kv.series-name",
            "mtype": "count",
            "tags": ["env:test", "x:1"],
            "ts": 1500 + i,
            "value": float(i),
        }
        for i in range(n)
    ]


def test_dd_submit_202_payload():
    seen = []

    def fake_urlopen(req, timeout):
        seen.append(req)
        return FakeResponse(202)

    DatadogTransport("k3y", urlopen=fake_urlopen).submit_partition(dd_rows())
    assert len(seen) == 1
    req = seen[0]
    assert req.full_url == "https://api.datadoghq.com/api/v1/series"
    assert req.get_header("Dd-api-key") == "k3y"
    payload = json.loads(req.data.decode())
    assert [s["metric"] for s in payload["series"]] == ["kv.series-name"] * 2
    assert payload["series"][0]["points"] == [[1500, 0.0]]
    assert payload["series"][0]["type"] == "count"
    assert "env:test" in payload["series"][0]["tags"]


def test_dd_non_202_raises_after_retries():
    calls = []

    def fake_urlopen(req, timeout):
        calls.append(1)
        return FakeResponse(200)

    with pytest.raises(TransportError, match="want 202"):
        DatadogTransport(
            "k", urlopen=fake_urlopen, retry_initial_backoff_s=0.001
        ).submit_partition(dd_rows())
    assert len(calls) == 5  # reference retrier: 5 attempts


def test_dd_chunks_large_batches():
    calls = []

    def fake_urlopen(req, timeout):
        calls.append(len(json.loads(req.data.decode())["series"]))
        return FakeResponse(202)

    t = DatadogTransport("k", urlopen=fake_urlopen, max_series_per_request=3)
    t.submit_partition(dd_rows(n=7))
    assert calls == [3, 3, 1]


def test_dd_empty_partition_no_call():
    calls = []
    DatadogTransport(
        "k", urlopen=lambda req, timeout: calls.append(req) or FakeResponse(202)
    ).submit_partition([])
    assert calls == []


def test_dd_retry_per_chunk():
    """Per-partition retry: two 500s then a 202 -> success on the
    third POST attempt, no exception (alerts_consumer.go:257)."""
    statuses = iter([500, 500, 202])
    attempts = []

    def fake_urlopen(req, timeout):
        status = next(statuses)
        attempts.append(status)
        return FakeResponse(status)

    DatadogTransport(
        "k", urlopen=fake_urlopen, retry_initial_backoff_s=0.001
    ).submit_partition(dd_rows())
    assert attempts == [500, 500, 202]


class _RecordingDDHandler(http.server.BaseHTTPRequestHandler):
    """Records series-counts per POST; programmable status sequence."""

    bodies: list = []
    statuses: list = []  # consumed front-first; empty -> 202

    def do_POST(self):  # noqa: N802 — http.server API
        n = int(self.headers["Content-Length"])
        payload = json.loads(self.rfile.read(n).decode())
        type(self).bodies.append(len(payload["series"]))
        status = type(self).statuses.pop(0) if type(self).statuses else 202
        self.send_response(status)
        self.send_header("Content-Length", "2")
        self.end_headers()
        self.wfile.write(b"{}")

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture()
def dd_server():
    _RecordingDDHandler.bodies = []
    _RecordingDDHandler.statuses = []
    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _RecordingDDHandler
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", _RecordingDDHandler
    srv.shutdown()
    srv.server_close()


def test_dd_submit_is_executor_side_and_chunked(spark, dd_server):
    """End-to-end through foreachPartition against a real local HTTP
    endpoint: every partition posts its own <=max chunks; totals add
    up; nothing is collected driver-side (submit never touches
    df.collect — the data only reaches the test via the server)."""
    base_url, handler = dd_server
    t = DatadogTransport(
        "k", base_url=base_url, max_series_per_request=3,
        retry_initial_backoff_s=0.001,
    )
    assert t.submit.handles_retry is True
    t.submit(dd_frame(spark, n=10).repartition(4))
    assert sum(handler.bodies) == 10
    assert all(1 <= b <= 3 for b in handler.bodies)
    assert len(handler.bodies) >= 4  # at least one POST per partition


def test_dd_submit_partition_failure_propagates(spark, dd_server):
    base_url, handler = dd_server
    handler.statuses = [500] * 50
    t = DatadogTransport(
        "k", base_url=base_url, retry_initial_backoff_s=0.001
    )
    with pytest.raises(Exception, match="want 202"):
        t.submit(dd_frame(spark, n=4).repartition(1))
    assert len(handler.bodies) == 5  # 5 attempts in the one partition


def test_sink_parks_batch_once_for_self_retrying_transport(spark, tmp_path):
    """A transport that declares handles_retry is called exactly once
    by the sink (no 5x5 double retry); its failure parks the batch to
    failed/ (PartialSendBatchError analogue, main.go:55)."""
    from kinesis_alerts_consumer_spark.pipeline import process_lines

    calls = []

    def failing(df):
        calls.append(1)
        raise TransportError("datadog submit: HTTP 500, want 202")

    failing.handles_retry = True
    lines = spark.createDataFrame(
        [(
            "2021-01-01T00:00:00 host p--a/arn[1]: "
            '{"value": 1, "_kvmeta": {"team": "t", "routes": [{"type": '
            '"alerts", "series": "s", "dimensions": [], "stat_type": '
            '"counter", "value_field": "value", "rule": "r"}]}}',
        )],
        "value string",
    )
    sink = MetricsSink(
        str(tmp_path), submit_dd=failing,
        retry=RetryPolicy(initial_backoff_s=0.001),
    )
    sink.process_batch(process_lines(lines, "value", "test-env"), batch_id=0)
    assert len(calls) == 1
    assert spark.read.parquet(str(tmp_path / "failed")).count() == 1


def test_cw_sigv4_put_metric_data(spark):
    seen = []

    def fake_urlopen(req, timeout):
        seen.append(req)
        return FakeResponse(200)

    t = CloudWatchTransport(
        "us-west-2",
        AwsCredentials("AKID", "s3cret"),
        urlopen=fake_urlopen,
        now=lambda: datetime.datetime(
            2026, 8, 13, 12, 0, 0, tzinfo=datetime.timezone.utc
        ),
    )
    t.submit(cw_frame(spark))
    assert len(seen) == 1
    req = seen[0]
    assert req.full_url == "https://monitoring.us-west-2.amazonaws.com/"
    body = dict(urllib.parse.parse_qsl(req.data.decode()))
    assert body["Action"] == "PutMetricData"
    assert body["Namespace"] == "LogMetrics"
    assert body["MetricData.member.1.MetricName"] == "ContainerExitCount"
    assert body["MetricData.member.1.StorageResolution"] == "1"
    assert body["MetricData.member.1.Dimensions.member.1.Name"] == "env"
    assert body["MetricData.member.2.Value"] == "1.0"
    auth = req.get_header("Authorization")
    assert auth.startswith("AWS4-HMAC-SHA256 Credential=AKID/20260813/"
                           "us-west-2/monitoring/aws4_request")
    assert "SignedHeaders=content-type;host;x-amz-date" in auth
    assert "Signature=" in auth
    assert req.get_header("X-amz-date") == "20260813T120000Z"


def test_cw_signature_is_deterministic(spark):
    sigs = []

    def fake_urlopen(req, timeout):
        sigs.append(req.get_header("Authorization").split("Signature=")[1])
        return FakeResponse(200)

    for _ in range(2):
        CloudWatchTransport(
            "us-east-1",
            AwsCredentials("AKID", "s3cret", session_token="tok"),
            urlopen=fake_urlopen,
            now=lambda: datetime.datetime(
                2026, 1, 2, 3, 4, 5, tzinfo=datetime.timezone.utc
            ),
        ).submit(cw_frame(spark, tag="us-east-1"))
    assert sigs[0] == sigs[1]
    assert len(sigs[0]) == 64


def test_cw_non_200_raises(spark):
    with pytest.raises(TransportError, match="HTTP 403"):
        CloudWatchTransport(
            "us-west-2",
            AwsCredentials("A", "B"),
            urlopen=lambda req, timeout: FakeResponse(403),
        ).submit(cw_frame(spark))


def test_cw_empty_frame_no_call(spark):
    calls = []
    CloudWatchTransport(
        "us-west-2",
        AwsCredentials("A", "B"),
        urlopen=lambda req, timeout: calls.append(req) or FakeResponse(200),
    ).submit(cw_frame(spark).limit(0))
    assert calls == []


def test_cw_posts_each_tag_to_its_own_region(spark):
    """Each tag's data is posted to and signed for that tag's region
    (the reference's per-region client, main.go:61-66)."""
    seen = []

    def fake_urlopen(req, timeout):
        seen.append(req)
        return FakeResponse(200)

    CloudWatchTransport(
        ("us-west-2", "us-east-2"), AwsCredentials("A", "B"),
        urlopen=fake_urlopen,
    ).submit(cw_frame(spark).union(cw_frame(spark, tag="us-east-2")))
    assert sorted(r.host for r in seen) == [
        "monitoring.us-east-2.amazonaws.com",
        "monitoring.us-west-2.amazonaws.com",
    ]
    for req in seen:
        region = req.host.split(".")[1]
        assert f"/{region}/monitoring/aws4_request" in req.get_header(
            "Authorization")


def test_cw_unknown_tag_makes_no_request(spark):
    calls = []
    t = CloudWatchTransport(
        "us-west-2", AwsCredentials("A", "B"),
        urlopen=lambda req, timeout: calls.append(req) or FakeResponse(200),
    )
    t.submit(cw_frame(spark, tag="eu-west-1"))
    t.submit(cw_frame(spark, tag="evil.example.com/x"))
    assert calls == []


def test_cw_regions_must_be_region_names():
    with pytest.raises(ValueError, match="not AWS region names"):
        CloudWatchTransport(("us-west-2", "evil.example.com/x"),
                            AwsCredentials("A", "B"))


def test_cw_collect_bound_raises_in_transport(spark):
    from kinesis_alerts_consumer_spark.streaming.transports import (
        _CW_COLLECT_BOUND,
    )

    calls = []
    frame = cw_frame(spark, n=1).crossJoin(
        spark.range(_CW_COLLECT_BOUND + 1)).drop("id")
    with pytest.raises(TransportError, match="collect cap"):
        CloudWatchTransport(
            "us-west-2", AwsCredentials("A", "B"),
            urlopen=lambda req, timeout: calls.append(req) or FakeResponse(200),
        ).submit(frame)
    assert calls == []


def test_sink_completes_when_cw_transport_hits_collect_bound(
    spark, tmp_path, monkeypatch
):
    """CloudWatch stays best-effort (alerts_consumer.go:271-281): a
    transport raising on the collect bound neither fails the batch nor
    stops its DD delivery."""
    from pyspark.sql import functions as F

    import kinesis_alerts_consumer_spark.streaming.transports as transports
    from kinesis_alerts_consumer_spark.pipeline import cw_data, process_lines

    monkeypatch.setattr(transports, "_CW_COLLECT_BOUND", 2)
    route = ('{"type": "alerts", "series": "ContainerExitCount", '
             '"dimensions": [], "stat_type": "counter", "rule": "r"}')
    lines = spark.createDataFrame(
        [(
            f"2021-01-01T00:00:0{i} host p--a/arn[1]: "
            '{"region": "us-west-2", '
            '"_kvmeta": {"team": "t", "routes": [' + route + "]}}",
        ) for i in range(transports._CW_COLLECT_BOUND + 1)],
        "value string",
    )
    batch = process_lines(lines, "value", "test-env")
    assert cw_data(batch).filter(
        F.col("tag") == "us-west-2").count() == transports._CW_COLLECT_BOUND + 1
    calls = []
    sink = MetricsSink(
        str(tmp_path),
        submit_cw=CloudWatchTransport(
            "us-west-2", AwsCredentials("A", "B"),
            urlopen=lambda req, timeout: calls.append(req) or FakeResponse(200),
        ).submit,
    )
    sink.process_batch(batch, batch_id=0)
    assert calls == []
    assert spark.read.parquet(str(tmp_path / "dd")).count() == 3


def test_retry_policy_backoff_sequence(monkeypatch):
    """Pin the reference retrier schedule (alerts_consumer.go:257;
    metrics.go:42): 5 attempts, sleeps 50 -> 100 -> 200 -> 400 ms
    between them, no sleep after the final failure."""
    sleeps = []
    monkeypatch.setattr("time.sleep", lambda s: sleeps.append(s))
    calls = []

    def fail():
        calls.append(1)
        raise RuntimeError("boom")

    err = RetryPolicy().run(fail)
    assert isinstance(err, RuntimeError)
    assert len(calls) == 5
    assert sleeps == [0.05, 0.1, 0.2, 0.4]


def test_dd_post_series_backoff_sequence(monkeypatch):
    """The executor-side transport applies the same schedule per POST."""
    sleeps = []
    monkeypatch.setattr("time.sleep", lambda s: sleeps.append(s))

    with pytest.raises(TransportError):
        DatadogTransport(
            "k", urlopen=lambda req, timeout: FakeResponse(500)
        ).post_series([{"metric": "m", "type": "count",
                        "points": [[1, 1.0]], "tags": []}])
    assert sleeps == [0.05, 0.1, 0.2, 0.4]
