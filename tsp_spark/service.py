"""Job queue REST service (SURVEY §2.10 last row).

Mirrors the reference's HTTP surface (http/.../routes/JobsRoutes.scala:32-53,
MonitoringRoutes.scala:54-96, ValidationRoutes.scala:20-38; queue
semantics from services/queuing/JobRunService.scala:34-259):

    POST /job/submit            — enqueue a FindPatternsRequest
    GET  /queue/show            — queued jobs
    POST /queue/<uuid>/remove   — drop a queued job
    GET  /job/<uuid>/status     — queued|running|finished|failed|stopped
    GET  /job/<uuid>/request    — original request
    POST /job/<uuid>/stop       — cancel (Spark job-group cancellation
                                  replaces the reference's SignallingRef)
    GET  /jobs/overview         — all jobs + statuses
    POST /patterns/validate     — parse/validate patterns without running
    GET  /metainfo/getVersion   — engine version

FIFO queue with a 1 Hz dequeue worker (JobRunService.scala:240-244).
Framework-free: a WSGI app over stdlib, so it runs under wsgiref or any
WSGI server; the service object is also directly usable in-process.
"""

from __future__ import annotations

import json
import sys
import threading
import time
import traceback
import urllib.error
import urllib.request
import uuid as uuidlib
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any, Callable

from tsp_spark import __version__ as ENGINE_VERSION
from tsp_spark.api import RawPattern, search_incidents
from tsp_spark.dsl.parser import ParseError, parse_pattern

JobRunner = Callable[[dict], Any]


class BadRequest(ValueError):
    """A request the service cannot act on; the WSGI layer answers 400."""


def validate_patterns(
    patterns: list[dict], fields_types: dict[str, str] | None = None
) -> list[dict]:
    """PatternsValidator parity (ValidationRoutes.scala:20-38): per
    pattern → success + metadata, or the parse error."""
    if not isinstance(patterns, list) or not all(isinstance(p, dict) for p in patterns):
        raise BadRequest("patterns must be a list of objects")
    out = []
    for p in patterns:
        pid = p.get("id")
        try:
            node = parse_pattern(p["sourceCode"], fields_types or {})
            out.append(
                {
                    "id": pid,
                    "success": True,
                    "context": repr(type(node).__name__),
                }
            )
        except (ParseError, KeyError, ValueError) as e:
            out.append({"id": pid, "success": False, "error": str(e)})
    return out


class CoordinatorClient:
    """Coordinator notification hooks (CoordinatorService.scala:48-120):
    POSTs JSON messages to ``{coord_uri}/api/tspinteraction/*`` —
    ``register`` (periodic instance heartbeat carrying the engine
    version), ``jobstarted``, and ``jobcompleted`` (success flag, error
    text, row counters). Failures are logged to stderr and swallowed:
    coordinator outages must never take down the job worker (the
    reference logs and continues on connect errors)."""

    def __init__(self, coord_uri: str, register_interval_s: float = 60.0):
        self.coord_uri = coord_uri.rstrip("/")
        self.register_interval_s = register_interval_s

    def _post(self, endpoint: str, payload: dict) -> None:
        url = f"{self.coord_uri}/api/tspinteraction/{endpoint}"
        req = urllib.request.Request(
            url,
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=5):
                pass  # 2xx/3xx — nothing to report
        except urllib.error.HTTPError as e:
            # urlopen raises for 4xx/5xx rather than returning a
            # response object, so the status log lives here
            print(f"coordinator returned {e.code} for {url}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — notify must never raise
            print(f"cannot connect to {url}: {e}", file=sys.stderr)

    def notify_register(self) -> None:
        from tsp_spark import __version__

        self._post("register", {"version": __version__})

    def notify_job_started(self, job_id: str) -> None:
        self._post("jobstarted", {"jobId": job_id})

    def notify_job_completed(
        self,
        job_id: str,
        success: bool,
        error: str,
        rows_read: int,
        rows_written: int,
    ) -> None:
        self._post(
            "jobcompleted",
            {
                "jobId": job_id,
                "success": success,
                "error": error,
                "rowsRead": rows_read,
                "rowsWritten": rows_written,
            },
        )


# request-dict keys written by the RUNNER after submission (never by a
# client); request_of() removes exactly these from the echo endpoint
_INTERNAL_REQUEST_KEYS = frozenset({"_autoShard"})


@dataclass
class Job:
    uuid: str
    request: dict
    status: str = "queued"  # queued|running|finished|failed|stopped
    priority: int = 0
    error: str | None = None
    rows_written: int | None = None
    submitted_at: float = field(default_factory=time.time)


class JobQueueService:
    """Priority-then-FIFO queue, one dequeue per second, at most one
    running job — the reference's JobRunService behavior plus the
    `priority` ordering its QueueableRequest declares
    (http/.../domain/input/Request.scala:10-13: requests are Ordered by
    priority; higher value runs first, equal priorities keep submit
    order)."""

    def __init__(
        self,
        runner: JobRunner,
        dequeue_interval_s: float = 1.0,
        coordinator: CoordinatorClient | None = None,
    ):
        self._runner = runner
        self._interval = dequeue_interval_s
        self._jobs: OrderedDict[str, Job] = OrderedDict()
        self._queue: list[str] = []
        self._lock = threading.Lock()
        self._stop_flags: set[str] = set()
        self._coordinator = coordinator
        self._worker = threading.Thread(target=self._run_loop, daemon=True)
        self._shutdown = False
        self._worker.start()
        if coordinator is not None:
            self._register_thread = threading.Thread(
                target=self._register_loop, daemon=True
            )
            self._register_thread.start()

    # -- queue operations ------------------------------------------------
    def submit(self, request: dict) -> dict:
        if not isinstance(request, dict):
            raise BadRequest("request body must be a JSON object")
        priority = request.get("priority", 0)
        if type(priority) is not int:  # rejects bool, float and str
            raise BadRequest(f"priority must be an integer, got {priority!r}")
        uid = request.get("uuid") or str(uuidlib.uuid4())
        with self._lock:
            # idempotent resubmit (review-caught): re-POSTing an
            # in-flight uuid used to enqueue the SAME uid twice (the
            # worker then ran the job twice) and clobber the first
            # run's record. A live uid now returns its current state;
            # terminal uids may be resubmitted (retry semantics).
            existing = self._jobs.get(uid)
            if existing is not None and existing.status in (
                "queued", "running",
            ):
                return self._brief(existing)
            request = {**request, "uuid": uid}  # runner tags its job group
            job = Job(uid, request, priority=priority)
            self._jobs[uid] = job
            # keep the queue sorted by (priority desc, submit order):
            # insert before the first queued job of strictly lower
            # priority, after every peer of equal-or-higher priority
            pos = len(self._queue)
            for i, qid in enumerate(self._queue):
                if self._jobs[qid].priority < priority:
                    pos = i
                    break
            self._queue.insert(pos, uid)
        return {"uuid": uid, "status": "queued", "priority": priority}

    def queue_show(self) -> list[dict]:
        with self._lock:
            return [self._brief(self._jobs[u]) for u in self._queue]

    def queue_remove(self, uid: str) -> bool:
        with self._lock:
            if uid in self._queue:
                self._queue.remove(uid)
                self._jobs[uid].status = "stopped"
                return True
        return False

    def status(self, uid: str) -> dict | None:
        job = self._jobs.get(uid)
        return None if job is None else self._brief(job)

    def request_of(self, uid: str) -> dict | None:
        job = self._jobs.get(uid)
        if job is None:
            return None
        # strip only the KNOWN runner-internal keys so the request
        # endpoint round-trips exactly what the client sent — a client
        # field that happens to start with "_" must still echo back
        # (r13, ADVICE r12)
        return {
            k: v for k, v in job.request.items() if k not in _INTERNAL_REQUEST_KEYS
        }

    def stop(self, uid: str) -> bool:
        with self._lock:
            job = self._jobs.get(uid)
            if job is None:
                return False
            if uid in self._queue:
                self._queue.remove(uid)
                job.status = "stopped"
                return True
            if job.status == "running":
                self._stop_flags.add(uid)
                # actually interrupt the running Spark work: the
                # runner exposes cancel(uid) → cancelJobGroup
                # (review-caught: stop used to merely relabel the
                # result after the job ran to completion)
                cancel = getattr(self._runner, "cancel", None)
                if cancel is not None:
                    try:
                        cancel(uid)
                    except Exception:  # noqa: BLE001 — stop stays best-effort
                        traceback.print_exc()
                return True
        return False

    def overview(self) -> list[dict]:
        return [self._brief(j) for j in self._jobs.values()]

    def shutdown(self) -> None:
        self._shutdown = True

    def stop_requested(self, uid: str) -> bool:
        return uid in self._stop_flags

    # -- worker ----------------------------------------------------------
    def _register_loop(self) -> None:
        """Periodic coordinator registration (CoordinatorService.scala:46:
        scheduleAtFixedRate; first beat immediate so tests and fresh
        instances surface promptly)."""
        while not self._shutdown:
            self._coordinator.notify_register()
            time.sleep(self._coordinator.register_interval_s)

    def _run_loop(self) -> None:
        while not self._shutdown:
            time.sleep(self._interval)
            with self._lock:
                uid = self._queue.pop(0) if self._queue else None
                if uid is not None:
                    self._jobs[uid].status = "running"
            if uid is None:
                continue
            job = self._jobs[uid]
            if self._coordinator is not None:
                self._coordinator.notify_job_started(uid)
            try:
                result = self._runner(job.request)
                if uid in self._stop_flags:
                    job.status = "stopped"
                else:
                    job.status = "finished"
                    if isinstance(result, int):
                        job.rows_written = result
            except Exception as e:  # noqa: BLE001 — report any job failure
                if uid in self._stop_flags:
                    # a cancelled Spark job group surfaces as an
                    # exception in the runner — that's a successful
                    # stop, not a failure (review-caught)
                    job.status = "stopped"
                else:
                    job.status = "failed"
                    job.error = f"{type(e).__name__}: {e}"
                    traceback.print_exc()
            finally:
                # always clear the flag: leaving it leaked the set and
                # kept stop_requested(uid) true forever (review-caught)
                self._stop_flags.discard(uid)
            if self._coordinator is not None:
                self._coordinator.notify_job_completed(
                    uid,
                    success=job.status == "finished",
                    error=job.error or "",
                    rows_read=0,
                    rows_written=job.rows_written or 0,
                )

    @staticmethod
    def _brief(job: Job) -> dict:
        d = {"uuid": job.uuid, "status": job.status, "priority": job.priority}
        if job.error:
            d["error"] = job.error
        if job.rows_written is not None:
            d["rowsWritten"] = job.rows_written
        # r12: skew-mitigation decision (written by the runner once the
        # job plans; see make_spark_runner) — shows whether the probe
        # ran, was served from the per-source memo, and the width chosen
        if job.request.get("_autoShard"):
            auto = dict(job.request["_autoShard"])
            # r14 (VERDICT r13 Next #8): which physical form each
            # windowed aggregate compiled to ("frame" / "prefix" /
            # "block") — its own status key so an operator can see a
            # wrong-form suspicion (the r13 sf1 drift class) without a
            # plan autopsy
            forms = auto.pop("window_forms", None)
            d["autoShard"] = auto
            if forms:
                d["windowForms"] = forms
        return d


def make_spark_runner(spark, sink: Callable[[Any, dict], int] | None = None) -> JobRunner:
    """Default runner: FindPatternsRequest dict → incident DataFrame →
    sink. The request's `source` must carry a parquet path or JDBC conf;
    sinks append via JDBC/Kafka/parquet per `sinks` conf."""

    def run(request: dict) -> int:
        src = request["source"]
        if "parquetPath" in src:
            df = spark.read.parquet(src["parquetPath"])
        elif "jdbcUrl" in src:
            from tsp_spark.io.conf import JDBCInputConf
            from tsp_spark.io.jdbc import jdbc_source

            df = jdbc_source(
                spark,
                JDBCInputConf(
                    source_id=src.get("sourceId", 0),
                    jdbc_url=src["jdbcUrl"],
                    query=src["query"],
                    driver_name=src["driverName"],
                    datetime_field=src["datetimeField"],
                    partition_fields=src["partitionFields"],
                    user_name=src.get("userName"),
                    password=src.get("password"),
                ),
            )
        else:
            raise ValueError("source must provide parquetPath or jdbcUrl")
        patterns = [
            RawPattern(
                p["id"], p["sourceCode"], p.get("subunit", 0), p.get("metadata", {})
            )
            for p in request["patterns"]
        ]
        decision: dict = {}
        incidents = search_incidents(
            df,
            patterns,
            src["partitionFields"],
            src["datetimeField"],
            max_gap_ms=src.get("eventsMaxGapMs", 60_000),
            session_gap_ms=src.get("defaultEventsGapMs", 2_000),
            # engine extension (r8): "fused" (default, golden-pinned)
            # or "exact" (the reference's two-queue andThen
            # consumption — docs/SEMANTICS.md §17)
            andthen_mode=request.get("andThenMode", "fused"),
            # engine extension (r9, bounded-extent-total since r10,
            # AUTO since r11): hot-key mitigation — patterns evaluate
            # sharded by (key, time-shard), exact at any value
            # (api.py). Bounded-extent shapes shard; everything else
            # (exact-mode andThen, right-nested/nested andThen
            # operands, lag over non-row-local inners or inside
            # chains, unknown nodes) silently keeps the exact ordered
            # path — do not expect a sharded speedup on those shapes.
            # shardMs absent -> "auto" (plan-time skew probe, gated on
            # a finite >=128 MB plan-stats size, so JDBC sources —
            # unknown size — never pay a probe scan); explicit null ->
            # ordered; explicit int -> forced width incl. lag shapes.
            shard_ms=request.get("shardMs", "auto"),
            # r12 engine extension: windowed-aggregate plan form —
            # "auto" (default; O(n) prefix/two-block at >=5 min
            # windows), "frame" (literal sliding frame, bit-exact
            # float association with a frame-computed oracle), or
            # "prefix" (force the O(n) forms). docs/SEMANTICS.md §18.
            window_agg=request.get("windowAgg", "auto"),
            # r12: the resolved skew decision (incl. whether the probe
            # ran or came from the per-source memo) is surfaced in job
            # status — and repeated submissions of the same source plan
            # hit api.py's TTL-bounded probe cache instead of re-scanning
            decision_sink=decision,
        )
        # attach AFTER search_incidents returns (atomic assignment of a
        # dict no longer being mutated — a concurrent status GET never
        # sees a half-written decision); the "_"-prefix marks it
        # internal and request_of() strips it from the echo endpoint
        request["_autoShard"] = decision
        if sink is not None:
            return sink(incidents, request)
        outs = request.get("sinks", [])
        # compute the incident plan ONCE: each sink write plus the
        # count() used to re-run the full search per action
        # (review-caught)
        if outs:
            incidents = incidents.persist()
        try:
            for out in outs:
                if "parquetPath" in out:
                    incidents.write.mode("append").parquet(out["parquetPath"])
                elif "jdbcUrl" in out:
                    from tsp_spark.io.conf import JDBCOutputConf
                    from tsp_spark.io.jdbc import jdbc_sink

                    jdbc_sink(
                        incidents,
                        JDBCOutputConf(
                            jdbc_url=out["jdbcUrl"],
                            table_name=out["tableName"],
                            driver_name=out["driverName"],
                            user_name=out.get("userName"),
                            password=out.get("password"),
                            batch_size=out.get("batchSize", 100),
                        ),
                    )
                elif "broker" in out or "brokers" in out:
                    from tsp_spark.io.conf import KafkaOutputConf
                    from tsp_spark.io.kafka import kafka_sink

                    kafka_sink(
                        incidents,
                        KafkaOutputConf(
                            broker=out.get("broker") or out["brokers"],
                            topic=out["topic"],
                        ),
                    )
                else:
                    # never silently drop a sink the caller declared
                    # (review-caught: JDBC/Kafka confs used to no-op
                    # while the job reported 'finished')
                    raise ValueError(
                        f"unsupported sink conf (expected parquetPath, "
                        f"jdbcUrl or brokers): {sorted(out)}"
                    )
            return incidents.count()
        finally:
            if outs:
                incidents.unpersist()

    def run_grouped(request: dict) -> int:
        """Tag all Spark work with the job uuid so stop() can cancel
        the group mid-run (the reference's SignallingRef equivalent)."""
        uid = str(request.get("uuid") or "")
        sc = spark.sparkContext
        if uid:
            sc.setJobGroup(uid, f"tsp job {uid}", interruptOnCancel=True)
        try:
            return run(request)
        finally:
            if uid:
                sc.setJobGroup("", "")

    run_grouped.cancel = lambda uid: spark.sparkContext.cancelJobGroup(uid)
    return run_grouped


# -- WSGI layer ----------------------------------------------------------

def make_wsgi_app(service: JobQueueService, fields_types: dict[str, str] | None = None):
    def app(environ, start_response):
        method = environ["REQUEST_METHOD"]
        path = environ.get("PATH_INFO", "").strip("/")
        segs = [s for s in path.split("/") if s]

        def respond(code: str, payload):
            body = json.dumps(payload).encode()
            start_response(code, [("Content-Type", "application/json")])
            return [body]

        def read_body():
            try:
                n = int(environ.get("CONTENT_LENGTH") or 0)
                return json.loads(environ["wsgi.input"].read(n) or b"{}")
            except ValueError as e:  # bad length, JSON or UTF-8
                raise BadRequest(f"malformed request body: {e}") from e

        try:
            if method == "POST" and segs[:2] == ["job", "submit"]:
                return respond("200 OK", service.submit(read_body()))
            if method == "GET" and segs == ["queue", "show"]:
                return respond("200 OK", service.queue_show())
            if method == "POST" and len(segs) == 3 and segs[0] == "queue" and segs[2] == "remove":
                ok = service.queue_remove(segs[1])
                return respond("200 OK" if ok else "404 Not Found", {"removed": ok})
            if method == "GET" and len(segs) == 3 and segs[0] == "job" and segs[2] == "status":
                st = service.status(segs[1])
                return respond("200 OK" if st else "404 Not Found", st or {})
            if method == "GET" and len(segs) == 3 and segs[0] == "job" and segs[2] == "request":
                rq = service.request_of(segs[1])
                return respond("200 OK" if rq else "404 Not Found", rq or {})
            if method == "POST" and len(segs) == 3 and segs[0] == "job" and segs[2] == "stop":
                ok = service.stop(segs[1])
                return respond("200 OK" if ok else "404 Not Found", {"stopped": ok})
            if method == "GET" and segs == ["jobs", "overview"]:
                return respond("200 OK", service.overview())
            if method == "POST" and segs == ["patterns", "validate"]:
                body = read_body()
                # a bare JSON array body is valid; anything that is not
                # a list of objects is a 400 from validate_patterns
                pats = body.get("patterns", []) if isinstance(body, dict) else body
                return respond("200 OK", validate_patterns(pats, fields_types))
            if method == "GET" and segs == ["metainfo", "getVersion"]:
                return respond("200 OK", {"version": ENGINE_VERSION})
            return respond("404 Not Found", {"error": f"no route {method} /{path}"})
        except BadRequest as e:
            return respond("400 Bad Request", {"error": str(e)})
        except Exception as e:  # noqa: BLE001
            return respond("500 Internal Server Error", {"error": str(e)})

    return app
