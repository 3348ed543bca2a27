"""The search_serve workload: ``POST /search`` against an httpd server.

The server (server.py, its own process with a local[nproc] Spark
session) indexes a full crawl of the seeded corpus. This process is the
load generator: an open loop at a fixed rate, at most nproc
connections, every request timed from its due time, then a closed loop
with nproc connections for the throughput. Queries come from
inputs.queries (every pattern on both indices, common to zero-hit
terms); warm-up queries are a disjoint set, so nothing the measured
stream asks is primed during set-up.
"""

from __future__ import annotations

import http.client
import json
import os
import signal
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import env, inputs, oracles, spans
from perfbench.metrics import PUBLISHES, median, percentile

# Load. The server's capacity on the reference host (4 vCPU, local[4]):
# a closed loop with 4 connections over this index completed 5.5 and
# 6.3 req/s in two 20 s windows, so SATURATION_QPS = 5.9. The first
# OPEN_SHARE of --seconds is an open loop offered at LOAD_FRACTION of
# that (1.6 req/s: 16 requests in 10 s of a 16 s run, each distinct
# query once) and gives the latencies. At that load a request rarely
# waits for another (probed at 1.0, 1.6 and 2.66 req/s, the median was
# 540-570 ms at the first two and 630-850 ms at 2.66), so the latencies
# are service times. The rest of --seconds is a closed loop with nproc
# connections whose completions per second are the throughput, a rate
# the server sets rather than the generator.
SATURATION_QPS = 5.9
LOAD_FRACTION = 0.27
OPEN_SHARE = 0.625
RATE = {"full": LOAD_FRACTION * SATURATION_QPS, "small": 2.0}
SIZE = 10  # results per query (the API default)


class SearchWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.proc = None

    # ------------------------------------------------------------ setup
    def setup(self) -> None:
        ctx = self.ctx
        self.trace_out = str(ctx.tmp / "server-trace.json")
        cmd = [sys.executable, "-u", os.path.join(os.path.dirname(__file__), "server.py"),
               "--work", str(ctx.tmp), "--seed", str(ctx.seed), "--scale", ctx.scale,
               "--trace", str(int(ctx.trace)), "--trace-out", self.trace_out]
        self.log = open(ctx.tmp / "server.log", "wb")
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.log,
                                     cwd=str(env.ROOT))
        self.port = None
        deadline = time.time() + 150
        while self.port is None:
            line = self.proc.stdout.readline().decode()
            if not line or time.time() > deadline:
                raise RuntimeError("server did not start:\n" + self._server_log()[-4000:])
            if line.startswith("PERFBENCH "):
                self.built = json.loads(line[len("PERFBENCH "):])
            elif line.startswith("listening on http://"):
                self.port = int(line.split()[2].rsplit(":", 1)[1])
        ctx.log("server listening")
        with open(ctx.tmp / "published.json") as f:
            published = json.load(f)
        self.indices = {name: oracles.TermFrequencyIndex({i: t for i, _u, t in rows})
                        for name, rows in published.items()}
        self.published = published
        self.distinct = inputs.queries(ctx.seed)
        with ThreadPoolExecutor(env.cores()) as pool:
            for status, _ in pool.map(lambda q: self._post(*q), inputs.warmup_queries(ctx.seed)):
                if status != 200:
                    raise RuntimeError(f"warm-up query failed with {status}")
        ctx.log("warm-up queries done")

    def _post(self, index: str, query: str) -> tuple[int, dict]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            body = json.dumps({"query": query, "index": index, "size": SIZE})
            conn.request("POST", "/search", body, {"Content-Type": "application/json"})
            r = conn.getresponse()
            return r.status, json.loads(r.read() or b"{}")
        finally:
            conn.close()

    # ---------------------------------------------------------- measure
    def measure(self) -> None:
        ctx = self.ctx
        rate = RATE[ctx.scale]
        open_s = OPEN_SHARE * ctx.seconds
        n = max(1, round(rate * open_s))
        order = inputs.query_stream(ctx.seed, self.distinct, 1 << 16)
        self.records: list[dict] = [{} for _ in range(n)]
        self.closed: list[dict] = []
        nxt = iter(range(1 << 16))
        lock = threading.Lock()
        t0 = time.time() + 0.2

        def request(i: int, due: float) -> dict:
            index, query = self.distinct[order[i]]
            sent = time.time()
            try:
                status, body = self._post(index, query)
            except Exception as e:  # a failed request is a counted failure
                status, body = 0, {"error": repr(e)}
            return {"due": due, "sent": sent, "done": time.time(),
                    "index": index, "query": query, "status": status, "body": body}

        def open_worker():
            while True:
                with lock:
                    i = next(nxt)
                if i >= n:
                    return
                due = t0 + i / rate
                time.sleep(max(0.0, due - time.time()))
                self.records[i] = request(i, due)

        def closed_worker(conn: int, until: float):
            while time.time() < until:
                with lock:
                    i = next(nxt)
                r = request(i, time.time())
                r["conn"] = conn
                with lock:
                    self.closed.append(r)

        with env.RssSampler(self.proc.pid) as rss:
            threads = [threading.Thread(target=open_worker) for _ in range(env.cores())]
            for t in threads:
                t.start()
            if ctx.trace:
                # second half untraced: the difference is the tracing overhead
                time.sleep(max(0.0, t0 + n / rate / 2 - time.time()))
                self.half = time.time()
                self.proc.send_signal(signal.SIGUSR1)
            for t in threads:
                t.join()
            self.window = (t0, max(r["done"] for r in self.records))
            # the closed loop starts once the open loop has drained
            c0 = time.time()
            c1 = c0 + max(ctx.seconds - open_s, 0.5)
            threads = [threading.Thread(target=closed_worker, args=(k, c1))
                       for k in range(env.cores())]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        self.peak_rss_mb = rss.peak_mb
        self.closed_start = c0
        ctx.log(f"{n} open-loop and {len(self.closed)} closed-loop requests done")
        self.teardown()  # the server writes its trace as it exits

    # ------------------------------------------------------------ check
    def check(self) -> tuple[int, int, list[str]]:
        bad = []
        if self.ctx.inject_mismatch:
            # corrupt the oracle's copy of a document some response returned
            r = next(r for r in self.records if r["body"].get("results"))
            self.indices[r["index"]].docs[r["body"]["results"][0]["id"]] += " injected"
        # the published docs themselves: byte-identical extraction
        rows = [(u, "article", t, None) for _i, u, t in self.published["articles"]]
        rows += [(u, "page", None, t) for _i, u, t in self.published["pages"]]
        docs = inputs.documents(self.ctx.seed, inputs.N_DOCS[self.ctx.scale])
        bad += oracles.check_extracted(rows, dict(zip(docs["doc_id"], docs["text"])))
        for r in self.records + self.closed:
            r["ok"] = False
            if r["status"] != 200:
                bad.append(f"HTTP {r['status']} for {r['query']!r}: {r['body']}")
                continue
            problems = self.indices[r["index"]].check(r["query"], SIZE, r["body"])
            r["ok"] = not problems
            bad += problems
        return len(self.records) + len(self.closed) + len(rows), len(bad), bad

    # ---------------------------------------------------------- metrics
    def end_to_end(self) -> tuple[dict, dict]:
        lat = [r["done"] - r["due"] for r in self.records if r["ok"]]
        # each connection's completions over its own busy time, summed: a
        # window that ends at one connection's last response would count
        # the others' idle tails
        qps = 0.0
        for k in {r["conn"] for r in self.closed}:
            mine = [r for r in self.closed if r["conn"] == k]
            qps += sum(r["ok"] for r in mine) / (max(r["done"] for r in mine) - self.closed_start)
        e2e = {
            "throughput_per_s": qps,
            "latency_p50_ms": 1e3 * median(lat),
            "latency_p75_ms": 1e3 * percentile(lat, 0.75),
            "publish_s": self.built["publish_s"],
        }
        conns = env.cores()
        report = {
            "search_qps": (qps, "req/s", {"loop": "closed", "connections": conns,
                                          "requests": len(self.closed)}),
            "search_p50_ms": (e2e["latency_p50_ms"], "ms", {
                "loop": "open", "offered": RATE[self.ctx.scale], "connections": conns,
                "samples": len(lat)}),
            "search_p75_ms": (e2e["latency_p75_ms"], "ms", {"samples": len(lat)}),
            "publish_s": (e2e["publish_s"], "s", {"samples": PUBLISHES}),
        }
        return e2e, report

    def per_layer(self) -> dict:
        with open(self.trace_out) as f:
            dump = json.load(f)
        self.trace_dump = dump
        all_spans, jobs = dump["spans"], dump["jobs"]
        backend = [s for s in all_spans if s["name"] == "search.backend"
                   and self.window[0] <= s["start"] < self.window[1]]
        by_span = spans.attribute(jobs, backend)
        q_jobs = [j for s in backend for j in by_span.get(s["id"], [])]
        nq = max(len(backend), 1)
        traced = [r for r in self.records if r["sent"] < self.half]
        plain = [r for r in self.records if r["sent"] >= self.half]
        backend_ms = 1e3 * median([s["end"] - s["start"] for s in backend])
        win_jobs = spans.in_window(jobs, *self.window)
        tot = spans.spark_totals(win_jobs)
        wall = self.window[1] - self.window[0]

        def p50(rs):
            return median([r["done"] - r["due"] for r in rs])

        out = {
            "search.backend_ms": backend_ms,
            "search.jobs_per_query": len(q_jobs) / nq,
            "search.rows_per_query": sum(j["input_records"] for j in q_jobs) / nq,
            "httpd.overhead_ms": 1e3 * median([r["done"] - r["sent"] for r in traced]) - backend_ms,
            "loadgen.late_p90_ms": 1e3 * percentile([r["sent"] - r["due"] for r in self.records], 0.9),
            "catalog.bytes_per_doc": self.built["warehouse_bytes"] / max(
                sum(len(v) for v in self.published.values()), 1),
            "spark.busy_frac": tot["run_s"] / (wall * env.cores()),
            "spark.search.run_s": sum(j["run_s"] for j in q_jobs) / nq,
            "spark.search.tasks": sum(j["tasks"] for j in q_jobs) / nq,
            "mem.peak_rss_mb": self.peak_rss_mb,
            "trace.overhead_frac": p50(traced) / p50(plain) - 1.0 if plain and traced else 0.0,
            "trace.spans": float(len(backend)),
        }
        for k, v in tot.items():
            out[f"spark.{k}"] = v
        return out

    def teardown(self) -> None:
        if self.proc is None or self.proc.stdout.closed:
            return
        tree = [p for p in env.descendants(self.proc.pid) if p != self.proc.pid]
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()
        self.log.close()
        env.wait_gone(tree, 20.0)
        for line in self._server_log().splitlines():
            if line.startswith("[server"):
                print(line, file=sys.stderr)

    def _server_log(self) -> str:
        with open(self.ctx.tmp / "server.log", errors="replace") as f:
            return f.read()
