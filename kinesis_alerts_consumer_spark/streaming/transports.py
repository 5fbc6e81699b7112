"""Real HTTP transports for the Datadog and CloudWatch sink callables.

The sandbox default in :class:`.sinks.MetricsSink` remains the parquet
stand-in; these plug into its injection points::

    sink = MetricsSink(
        out_dir,
        submit_dd=DatadogTransport(api_key).submit,
        submit_cw=CloudWatchTransport(regions, creds).submit,
    )

Reference behavior reproduced (citations into /root/reference):

- Datadog: POST ``/api/v1/series``; the reference treats exactly HTTP
  202 as success (metrics.go:160-168). Any other status raises, which
  lets the sink's RetryPolicy run the 5-attempt 50 ms exponential
  backoff (alerts_consumer.go:257, metrics.go:42).
- CloudWatch: ``PutMetricData`` in namespace ``LogMetrics`` against the
  tag's own region, only for a region in the transport's fixed set
  (alerts_consumer.go:271-281, main.go:61-66). The sink passes the
  whole batch's region-tagged data in one ``submit``; the transport
  splits it into one call per (tag, <=20-datum chunk)
  (allowlist.go:6-7). No boto3 in this container, so requests are
  signed with a pure-stdlib AWS Signature V4 implementation (public
  AWS spec).

Scale posture (the reference emits ~1 point per routed record, so a
saturated replay makes dd_points as big as the input): the Datadog
transport submits FROM THE EXECUTORS — ``submit`` runs
``df.foreachPartition``; each partition builds and POSTs its own
<=1000-series chunks with the reference's 5x50 ms retry
(alerts_consumer.go:257-269) applied per partition. Nothing is
materialized on the driver at any batch size. The CloudWatch frame is
allowlist-gated (allowlist.go:8-10) and therefore bounded-small; it
stays one driver-side collect per batch by design, capped at
``_CW_COLLECT_BOUND`` rows. ``urlopen`` is injectable for
tests (it is pickled into the partition closure, so side effects of a
fake are only visible driver-side when calling the chunk-level
helpers directly).
"""

from __future__ import annotations

import datetime
import hashlib
import hmac
import itertools
import json
import re
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass, field
from typing import Callable, Collection, Mapping

from pyspark.sql import DataFrame

__all__ = ["AwsCredentials", "CloudWatchTransport", "DatadogTransport"]

# CloudWatch PutMetricData accepts at most 20 data per call
# (allowlist.go:6-7 pins the constraint; the reference keeps its
# allowlist small enough to fit one call).
CW_MAX_DATA_PER_CALL = 20

# Driver-collect cap for the CW path: the collect is safe ONLY because
# the allowlist bounds the row count; this cap enforces that premise
# (≈500 calls' worth) instead of trusting it.
_CW_COLLECT_BOUND = 10_000

# An AWS region name, e.g. us-west-2 or us-gov-west-1. It becomes part
# of the endpoint hostname, so nothing else may.
_REGION = re.compile(r"[a-z]{2}(-[a-z]+)+-[0-9]+")


def _default_urlopen(req: urllib.request.Request, timeout: float):
    return urllib.request.urlopen(req, timeout=timeout)  # noqa: S310


class TransportError(RuntimeError):
    """Non-success HTTP status from a metrics API."""


@dataclass
class DatadogTransport:
    """Datadog v1 series submission with the reference's 202 check.

    Executor-side: :meth:`submit` never collects — the dataclass is
    pickled into a ``foreachPartition`` closure and every partition
    POSTs its own chunks, retrying independently (retry + park
    semantics from alerts_consumer.go:257-269; the park itself is the
    sink's job, triggered by the raised :class:`TransportError`).
    """

    api_key: str
    base_url: str = "https://api.datadoghq.com"
    timeout_s: float = 30.0
    # DD caps payload size; chunk each partition's series defensively.
    max_series_per_request: int = 1000
    urlopen: Callable = field(default=_default_urlopen, repr=False)
    # Per-partition retry: 5 attempts, exponential backoff from 50 ms
    # per POST (reference retrier, alerts_consumer.go:257; metrics.go:42).
    retry_attempts: int = 5
    retry_initial_backoff_s: float = 0.05

    @staticmethod
    def build_series(rows) -> list[dict]:
        """DD v1 series payload entries from dd_points rows/mappings."""
        return [
            {
                "metric": r["metric"],
                "type": r["mtype"],
                "points": [[int(r["ts"]), float(r["value"])]],
                "tags": list(r["tags"] or []),
            }
            for r in rows
        ]

    def post_series(self, series: list[dict]) -> None:
        """POST one series list in <=max_series_per_request chunks,
        each chunk retried with the reference's backoff schedule."""
        for i in range(0, len(series), self.max_series_per_request):
            chunk = series[i : i + self.max_series_per_request]
            backoff = self.retry_initial_backoff_s
            for attempt in range(self.retry_attempts):
                try:
                    self._post({"series": chunk})
                    break
                except Exception:
                    if attempt == self.retry_attempts - 1:
                        raise
                    import time

                    time.sleep(backoff)
                    backoff *= 2

    def submit_partition(self, rows) -> None:
        """Per-partition submit: build + chunked retried POSTs. Runs
        on executors via :meth:`submit`; callable directly for tests."""
        series = self.build_series(rows)
        if series:
            self.post_series(series)

    def submit(self, df: DataFrame) -> None:
        """Submit one micro-batch of DD points (sinks.dd_points rows)
        from the executors — no driver-side materialization."""
        df.foreachPartition(self.submit_partition)

    # The transport retries inside each partition task; the sink must
    # not wrap it in its own RetryPolicy (that would re-run the whole
    # Spark job per attempt, re-POSTing partitions that succeeded).
    submit.handles_retry = True

    def _post(self, payload: dict) -> None:
        req = urllib.request.Request(
            f"{self.base_url}/api/v1/series",
            data=json.dumps(payload).encode("utf-8"),
            headers={
                "Content-Type": "application/json",
                "DD-API-KEY": self.api_key,
            },
            method="POST",
        )
        try:
            with self.urlopen(req, timeout=self.timeout_s) as resp:
                status = getattr(resp, "status", None) or resp.getcode()
        except urllib.error.HTTPError as exc:
            status = exc.code
        # metrics.go:160-168: success is exactly 202 Accepted.
        if status != 202:
            raise TransportError(f"datadog submit: HTTP {status}, want 202")


@dataclass
class AwsCredentials:
    access_key: str
    secret_key: str
    session_token: str | None = None


@dataclass
class CloudWatchTransport:
    """PutMetricData with stdlib SigV4 (service ``monitoring``).

    ``regions`` is the fixed set of regions it posts to — the
    reference's per-region client map (main.go:61-66). Each datum goes
    to the region named by its ``tag``; data tagged with any other
    region are skipped, so a tag from log data only reaches a hostname
    when it is one of these names."""

    regions: str | Collection[str]
    credentials: AwsCredentials
    namespace: str = "LogMetrics"
    timeout_s: float = 30.0
    urlopen: Callable = field(default=_default_urlopen, repr=False)
    # Injectable clock for deterministic signing tests.
    now: Callable[[], datetime.datetime] = field(
        default=lambda: datetime.datetime.now(datetime.timezone.utc),
        repr=False,
    )

    def __post_init__(self) -> None:
        regions = frozenset(
            [self.regions] if isinstance(self.regions, str) else self.regions
        )
        bad = sorted(r for r in regions if not _REGION.fullmatch(r))
        if bad:
            raise ValueError(f"not AWS region names: {bad!r}")
        self.regions = regions

    def submit(self, df: DataFrame) -> None:
        """Submit one micro-batch of CW data (sinks.cw_data rows with a
        region ``tag``): one driver collect, then one PutMetricData per
        (tag, <=20-datum chunk) against the tag's region. Rows are
        sorted by a deterministic total key before chunking, so an
        at-least-once replay re-sends identical chunks."""
        rows = df.take(_CW_COLLECT_BOUND + 1)
        if len(rows) > _CW_COLLECT_BOUND:
            raise TransportError(
                "CloudWatch side exceeded the allowlist-bounded collect "
                f"cap ({_CW_COLLECT_BOUND} rows/batch); shrink the "
                "allowlist or submit executor-side like DatadogTransport"
            )
        rows = sorted(
            (r for r in rows if r["tag"] in self.regions),
            key=lambda r: (r["tag"], str(tuple(r))),
        )
        for region, grouped in itertools.groupby(rows, key=lambda r: r["tag"]):
            data = list(grouped)
            for i in range(0, len(data), CW_MAX_DATA_PER_CALL):
                self._post(
                    region, self._params(data[i : i + CW_MAX_DATA_PER_CALL])
                )

    def _params(self, rows) -> dict[str, str]:
        params: dict[str, str] = {
            "Action": "PutMetricData",
            "Version": "2010-08-01",
            "Namespace": self.namespace,
        }
        for i, r in enumerate(rows, start=1):
            p = f"MetricData.member.{i}"
            params[f"{p}.MetricName"] = r["metric_name"]
            params[f"{p}.Value"] = repr(float(r["value"]))
            ts = r["ts"]
            if isinstance(ts, (int, float)):
                ts = datetime.datetime.fromtimestamp(
                    ts, tz=datetime.timezone.utc
                )
            params[f"{p}.Timestamp"] = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
            params[f"{p}.StorageResolution"] = str(
                int(r["storage_resolution"] or 1)
            )
            for j, dim in enumerate(r["dimensions"] or [], start=1):
                name = dim["name"] if not isinstance(dim, str) else dim
                value = dim["value"] if not isinstance(dim, str) else ""
                params[f"{p}.Dimensions.member.{j}.Name"] = name
                params[f"{p}.Dimensions.member.{j}.Value"] = value
        return params

    def _post(self, region: str, params: Mapping[str, str]) -> None:
        body = urllib.parse.urlencode(sorted(params.items()))
        headers = self._sigv4_headers(region, body)
        req = urllib.request.Request(
            f"https://{headers['Host']}/",
            data=body.encode("utf-8"),
            headers=headers,
            method="POST",
        )
        try:
            with self.urlopen(req, timeout=self.timeout_s) as resp:
                status = getattr(resp, "status", None) or resp.getcode()
        except urllib.error.HTTPError as exc:
            status = exc.code
        if status != 200:
            raise TransportError(f"cloudwatch submit: HTTP {status}")

    def _sigv4_headers(self, region: str, body: str) -> dict[str, str]:
        """AWS Signature Version 4 (public spec), service=monitoring."""
        t = self.now()
        amz_date = t.strftime("%Y%m%dT%H%M%SZ")
        datestamp = t.strftime("%Y%m%d")
        service = "monitoring"
        payload_hash = hashlib.sha256(body.encode("utf-8")).hexdigest()

        headers = {
            "Content-Type": "application/x-www-form-urlencoded; charset=utf-8",
            "Host": f"monitoring.{region}.amazonaws.com",
            "X-Amz-Date": amz_date,
        }
        if self.credentials.session_token:
            headers["X-Amz-Security-Token"] = self.credentials.session_token
        signed = sorted(k.lower() for k in headers)
        canonical_headers = "".join(
            f"{k}:{headers[h]}\n"
            for k in signed
            for h in headers
            if h.lower() == k
        )
        canonical_request = "\n".join(
            [
                "POST",
                "/",
                "",
                canonical_headers,
                ";".join(signed),
                payload_hash,
            ]
        )
        scope = f"{datestamp}/{region}/{service}/aws4_request"
        string_to_sign = "\n".join(
            [
                "AWS4-HMAC-SHA256",
                amz_date,
                scope,
                hashlib.sha256(canonical_request.encode("utf-8")).hexdigest(),
            ]
        )

        def _hmac(key: bytes, msg: str) -> bytes:
            return hmac.new(key, msg.encode("utf-8"), hashlib.sha256).digest()

        k_date = _hmac(
            ("AWS4" + self.credentials.secret_key).encode("utf-8"), datestamp
        )
        k_region = _hmac(k_date, region)
        k_service = _hmac(k_region, service)
        k_signing = _hmac(k_service, "aws4_request")
        signature = hmac.new(
            k_signing, string_to_sign.encode("utf-8"), hashlib.sha256
        ).hexdigest()

        headers["Authorization"] = (
            "AWS4-HMAC-SHA256 "
            f"Credential={self.credentials.access_key}/{scope}, "
            f"SignedHeaders={';'.join(signed)}, Signature={signature}"
        )
        return headers
