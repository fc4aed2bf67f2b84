"""Wire-level benchmark of the moospark server.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 28 --trace 0

Boots ``python -m cowsdb_spark`` (or, with ``--trace 1``, the traced
launcher around it), loads the workload's data over the wire, runs
the workload from this one process, checks every answer and prints
one JSON object as the last line of standard output. See README.md
for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

from server import REPO_ROOT, Server, host_cpus  # noqa: E402

WORK_DIR = os.path.join(BENCH_DIR, "_work")
# /proc sampling period: one sample reads smaps_rollup of every server
# process, about 15 ms of the load generator's CPU with a 1 GiB JVM heap
SAMPLE_S = 1.0

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_qps": "1/s",
    "sweep_s": "s",
    "server_rss_mb": "MB",
}
LAYER_UNITS = {
    "wire.http.self_ms.p50": "ms",
    "wire.http.self_ms.p99": "ms",
    "wire.native.self_ms.p50": "ms",
    "wire.native.self_ms.p99": "ms",
    "wire.resp_bytes.p50": "bytes",
    "dialect.translate_ms.p50": "ms",
    "dialect.translate_ms.p99": "ms",
    "dialect.calls": "1/request",
    "engine.plan_ms.hot.p50": "ms",
    "engine.plan_ms.cold.p50": "ms",
    "spark.exec_ms.p50": "ms",
    "spark.jobs_per_query": "1/request",
    "spark.tasks_per_query": "1/request",
    "formats.serialize_ms.p50": "ms",
    "formats.serialize_ns_per_row": "ns/row",
    "formats.native_encode_ms.p50": "ms",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "cpu.driver_py_s": "s",
    "rss.jvm_mb": "MB",
    "rss.driver_py_mb": "MB",
    "loadgen.late_p99_ms": "ms",
    "loadgen.cpu_s": "s",
    "loadgen.open_utilization": "ratio",
    "open_loop.latency_p50_ms": "ms",
    "traced.latency_p50_ms": "ms",
    "traced.throughput_qps": "1/s",
    "traced.sweep_s": "s",
}


def pct(values, q: float) -> float:
    """Nearest-rank percentile; 0.0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    return float(v[min(len(v) - 1, max(0, int(round(q / 100 * len(v) + 0.5)) - 1))])


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Bench:
    def __init__(self, workload_name: str, seed: int, seconds: int, traced: bool):
        from workloads import WORKLOADS

        self.seconds = seconds
        self.traced = traced
        self.files_dir = os.path.join(WORK_DIR, "data")
        os.makedirs(self.files_dir, exist_ok=True)
        self.run_dir = os.path.join(WORK_DIR, "run")
        # under run/, which Server.start wipes: no run reads another's spans
        self.spans_path = os.path.join(self.run_dir, "spans.jsonl")
        self.w = WORKLOADS[workload_name](self.files_dir, seed)
        self.records: list[list[dict]] = [[] for _ in range(len(self.w.wires) + 1)]
        self.late: list[tuple] = []  # (request, rows, record) for check_late
        self.server: Server | None = None
        self.conns: list = []

    # -- connections and requests

    def _connect(self, wire: str):
        from clients import HttpClient, NativeClient

        port = self.server.http_port if wire == "http" else self.server.native_port
        c = (HttpClient if wire == "http" else NativeClient)(port)
        c.seq = 0
        return c

    def _run(self, slot: int, conn, req: dict, phase: str, due: int | None = None):
        """Send one request, check its answer, record it. Returns the
        connection to use next (a fresh one after a broken socket)."""
        from clients import RequestError

        sent = time.monotonic_ns()
        rows, nbytes, err, broken = [], 0, None, False
        try:
            rows, nbytes = conn.query(req["sql"], req["fmt"])
            ok = self.w.check(req, rows, slot)
        except RequestError as e:  # refused or failed; the stream is in sync
            ok, err = False, str(e)
        except (OSError, ValueError) as e:
            ok, err, broken = False, f"{type(e).__name__}: {e}", True
        done = time.monotonic_ns()
        rec = {
            "phase": phase, "wire": conn.wire, "port": conn.local_port, "seq": conn.seq,
            "cls": req["cls"], "due": due if due is not None else sent,
            "sent": sent, "done": done, "ok": ok, "bytes": nbytes, "rows": len(rows),
        }
        if err:
            rec["err"] = err[:300]
        self.records[slot].append(rec)
        if not ok:
            rec["sql"] = req.get("sql", "")
        if ok is None:  # answer known only to the late oracle
            self.late.append((req, rows, rec))
        conn.seq += 1
        if broken:
            conn.close()
            return self._connect(conn.wire)
        return conn

    # -- set-up

    def setup(self) -> float:
        """Boot, load over the wire, cold pass, warm-up. One per run: a
        boot costs 7-13 s of the run budget on a 4-core box (see
        README.md)."""
        t0 = time.monotonic()
        self.server = Server(self.run_dir, self.files_dir, traced=self.traced,
                             spans_path=self.spans_path)
        self.server.start()
        t_boot = time.monotonic()
        conns = {w: self._connect(w) for w in ("http", "native")}
        self.w.load(conns["http"])
        t_load = time.monotonic()
        slot = len(self.w.wires)
        for req in self.w.cold_pass():
            conns[req["wire"]] = self._run(slot, conns[req["wire"]], req, "cold")
        for c in conns.values():
            c.close()
        t_cold = time.monotonic()
        self.conns = [self._connect(w) for w in self.w.wires]
        if self.w.warm_passes:
            self.sweep(None, self.w.warm_passes, "warm")
        if self.w.warm_requests:
            self.closed_loop(None, count=self.w.warm_requests, phase="warm")
        took = time.monotonic() - t0
        log(f"setup: {took:.2f} s (boot {t_boot - t0:.2f}, load {t_load - t_boot:.2f}, "
            f"cold pass {t_cold - t_load:.2f}, warm-up passes {time.monotonic() - t_cold:.2f})")
        return took

    # -- timed phases

    def _sample_until(self, sampler, threads) -> None:
        while any(t.is_alive() for t in threads):
            if sampler:
                sampler.sample()
            for t in threads:
                t.join(timeout=SAMPLE_S / len(threads))
        if sampler:
            sampler.sample()

    def sweep(self, sampler, n_passes: int, phase: str = "sweep",
              deadline_s: float = float("inf")) -> list[float]:
        """``n_passes`` passes over the fixed list, fewer if they overrun
        ``deadline_s``. By default a pass sends one request at a time, on
        the first connection of each wire; with ``sweep_parallel`` it
        sends request ``k`` on connection ``k``, all at once, and ends
        when the last answer is in. The passes run in worker threads, so
        the /proc sampling stays out of their timing."""
        first = {}
        for i, w in enumerate(self.w.wires):
            first.setdefault(w, i)
        parties = len(self.conns) if self.w.sweep_parallel else 1
        slot = len(self.w.wires)
        passes: list[float] = []
        todo: list[dict] = []
        state = {"t0": 0, "stop": False}
        t_start = time.monotonic_ns()

        def next_pass() -> None:  # runs once between passes, all workers waiting
            now = time.monotonic_ns()
            if state["t0"]:
                passes.append((now - state["t0"]) / 1e9)
                state["stop"] = (len(passes) == n_passes
                                 or (now - t_start) / 1e9 + passes[-1] > deadline_s)
            state["t0"] = now
            todo[:] = self.w.sweep()

        barrier = threading.Barrier(parties, action=next_pass)

        def worker(k: int) -> None:
            while True:
                barrier.wait()
                if state["stop"]:
                    return
                for req in todo[k::parties]:
                    i = k if parties > 1 else first[req["wire"]]
                    self.conns[i] = self._run(slot, self.conns[i], req, phase)

        threads = [threading.Thread(target=worker, args=(k,)) for k in range(parties)]
        for t in threads:
            t.start()
        self._sample_until(sampler, threads)
        return passes

    def open_loop(self, sampler, duration_s: float) -> None:
        """Poisson arrivals at ``open_loop_rate``, split evenly over the
        wires. The connections of one wire share its arrival queue, so a
        request waits only while all of them are busy; each request is
        timed from when it was due."""
        import random

        start = time.monotonic_ns() + 20_000_000
        wires = sorted(set(self.w.wires))
        count = round(self.w.open_loop_rate / len(wires) * duration_s)
        queues = {}
        for wire in wires:
            # a Poisson process conditioned on its count: the arrival
            # times are uniform over the phase, so every run of the same
            # length offers the same load. Requests are drawn in arrival
            # order from the generator of the wire's first worker, so they
            # do not depend on which connection happens to be free
            slot = self.w.wires.index(wire)
            arrivals = random.Random(self.w.rngs[slot].random())
            dues = sorted(start + int(arrivals.random() * duration_s * 1e9) for _ in range(count))
            q = [(due, self.w.next_request(slot)) for due in dues]
            q.reverse()
            queues[wire] = q
        lock = threading.Lock()

        def worker(i: int) -> None:
            q = queues[self.w.wires[i]]
            while True:
                with lock:
                    if not q:
                        return
                    due, req = q.pop()
                free = time.monotonic_ns()
                if due > free:
                    time.sleep((due - free) / 1e9)
                self.conns[i] = self._run(i, self.conns[i], req, "open", due)
                rec = self.records[i][-1]
                # the generator's own lateness: send time minus the time
                # it could have sent (due, or this connection freeing up)
                rec["late"] = rec["sent"] - max(due, free)

        threads = [threading.Thread(target=worker, args=(i,)) for i in range(len(self.conns))]
        for t in threads:
            t.start()
        self._sample_until(sampler, threads)

    def closed_loop(self, sampler, duration_s: float = 0.0, count: int = 0,
                    phase: str = "closed") -> tuple[int, int]:
        """Every connection sends its next request as soon as the last is
        answered: for ``duration_s``, or ``count`` requests each."""
        start = time.monotonic_ns()
        end = start + int(duration_s * 1e9)

        def worker(i: int) -> None:
            for k in itertools.count():
                if (k >= count) if count else (time.monotonic_ns() >= end):
                    return
                self.conns[i] = self._run(i, self.conns[i], self.w.next_request(i), phase)

        threads = [threading.Thread(target=worker, args=(i,)) for i in range(len(self.conns))]
        for t in threads:
            t.start()
        self._sample_until(sampler, threads)
        return start, time.monotonic_ns()

    def run(self) -> dict:
        import procstat

        self.w.prepare()
        try:
            setup_s = self.setup()
            sampler = procstat.TreeSampler(self.server.pid)
            sampler.sample()
            steal0 = procstat.steal_s()
            t_timed = time.monotonic_ns()
            # a fixed number of passes, so that the loops after them start
            # equally warm on a slow host; the deadline only stops a
            # pathologically slow run
            sweep_s = self.w.sweep_share * self.seconds
            passes = self.sweep(sampler, max(3, round(sweep_s / self.w.sweep_pass_s)),
                                deadline_s=2 * sweep_s)
            if self.w.open_loop_rate:
                self.open_loop(sampler, self.w.open_loop_share * self.seconds)
            closed = None
            if self.w.closed_loop_share:
                closed = self.closed_loop(sampler, self.w.closed_loop_share * self.seconds)
            t_end = time.monotonic_ns()
            log(f"host steal time during the timed phase: {procstat.steal_s() - steal0:.2f} s")
            for c in self.conns:
                c.close()
        finally:
            if self.server is not None:
                self.server.stop()
        for req, rows, rec in self.late:
            rec["ok"] = self.w.check_late(req, rows)
        return self.metrics(setup_s, passes, closed, (t_timed, t_end), sampler)

    # -- metrics

    def metrics(self, setup_s, passes, closed, timed, sampler) -> dict:
        recs = [r for rs in self.records for r in rs]
        bad = [r for r in recs if not r["ok"]]
        for r in bad[:5]:
            log(f"FAILED {r['phase']} {r['wire']} {r['cls']}: {r.get('err', 'wrong answer')} {r.get('sql', '')[:200]}")
        # latency and throughput: the closed loop if there is one, else
        # the sweeps. The open loop's latency is reported apart, unbounded:
        # with the server mostly idle it is the figure host noise moves most
        phase = "closed" if closed else "sweep"
        by_cls = self.latency_by_class(recs, phase)
        open_by_cls = self.latency_by_class(recs, "open")
        lat = [x for v in by_cls.values() for x in v]
        closed_recs = [r for r in recs if r["phase"] == phase and r["ok"]]
        closed_s = (closed[1] - closed[0]) / 1e9 if closed else sum(passes)
        if closed:
            # each connection's own rate, summed: a connection that ends
            # early while another finishes its last request adds no idle
            # tail, and one request more or less weighs little
            per_conn: dict[tuple, list] = {}
            for r in closed_recs:
                per_conn.setdefault((r["wire"], r["port"]), []).append(r["done"])
            conn_qps = {k: len(d) / ((max(d) - closed[0]) / 1e9) for k, d in per_conn.items()}
            qps = sum(conn_qps.values())
            log("closed-loop throughput by wire: " + ", ".join(
                f"{w} {sum(v for k, v in conn_qps.items() if k[0] == w):.2f}/s" for w in sorted(set(self.w.wires))))
        else:
            qps = len(closed_recs) / closed_s
        # the open loop's offered rate against what the same connections
        # complete when never idle: the server's load in the latency phase
        utilization = self.w.open_loop_rate / qps if self.w.open_loop_rate and closed else 0.0
        if utilization:
            log(f"open loop: {self.w.open_loop_rate:g} req/s offered, {utilization:.0%} of the closed-loop throughput")
        log(f"server CPU over the timed phase: JVM {sampler.cpu_s('jvm'):.2f} s, Python workers "
            f"{sampler.cpu_s('pyworker'):.2f} s, driver {sampler.cpu_s('driver_py'):.2f} s "
            f"(of {host_cpus()} cores x {(timed[1] - timed[0]) / 1e9:.2f} s)")
        for name, classes in ((phase, by_cls), ("open", open_by_cls)):
            if classes:
                both = [x for v in classes.values() for x in v]
                log(f"{name} latency p50 by class: " + ", ".join(
                    f"{k} {pct(v, 50):.0f} ms (n={len(v)})" for k, v in sorted(classes.items()))
                    + f"; p90 {pct(both, 90):.0f} ms, p99 {pct(both, 99):.0f} ms over {len(both)} samples")
        e2e = {
            "setup_s": setup_s,
            "latency_p50_ms": self.class_p50(by_cls),
            "throughput_qps": qps,
            "sweep_s": statistics.median(passes),
            "server_rss_mb": sampler.peak_mb(),
        }
        open_recs = [r for r in recs if r["phase"] == "open"]
        layers = {
            "cpu.jvm_s": sampler.cpu_s("jvm"),
            "cpu.pyworker_s": sampler.cpu_s("pyworker"),
            "cpu.driver_py_s": sampler.cpu_s("driver_py"),
            "rss.jvm_mb": sampler.peak_mb("jvm"),
            "rss.driver_py_mb": sampler.peak_mb("driver_py"),
            "loadgen.late_p99_ms": pct([r["late"] / 1e6 for r in open_recs], 99),
            "loadgen.cpu_s": sampler.loadgen_cpu_s(),
            "loadgen.open_utilization": utilization,
            "open_loop.latency_p50_ms": self.class_p50(open_by_cls),
        }
        log(f"{len(recs)} requests, {len(bad)} failed; {len(lat)} latency samples ({phase} loop), "
            f"{len(closed_recs)} closed-loop requests in {closed_s:.2f} s, "
            f"sweeps: {', '.join(f'{p:.2f}' for p in passes)} s")
        log("e2e " + json.dumps(e2e))
        log("proc " + json.dumps(layers))
        out = {"correct": not bad, "attempted": len(recs), "failed": len(bad)}
        if self.traced:
            layers.update(self.span_metrics(recs, timed))
            layers["traced.latency_p50_ms"] = e2e["latency_p50_ms"]
            layers["traced.throughput_qps"] = e2e["throughput_qps"]
            layers["traced.sweep_s"] = e2e["sweep_s"]
            out["metrics"] = {k: {"value": float(layers[k]), "unit": u} for k, u in LAYER_UNITS.items()}
        else:
            out["metrics"] = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
        return out

    @staticmethod
    def latency_by_class(recs: list[dict], phase: str) -> dict[str, list[float]]:
        """Latencies in ms of the phase's correct answers, by wire and
        class, timed from when each request was due (in the open loop)
        or sent."""
        out: dict[str, list] = {}
        for r in recs:
            if r["phase"] == phase and r["ok"]:
                out.setdefault(f"{r['wire']}/{r['cls']}", []).append((r["done"] - r["due"]) / 1e6)
        return out

    @staticmethod
    def class_p50(by_cls: dict[str, list[float]]) -> float:
        """The mean of the per-class medians: unlike a pooled median it
        does not move when the share of each class among completed
        requests shifts."""
        return statistics.fmean(pct(v, 50) for v in by_cls.values()) if by_cls else 0.0

    def span_metrics(self, recs: list[dict], timed: tuple[int, int]) -> dict:
        import tracing

        spans = tracing.load(self.spans_path)
        selft = tracing.self_times(spans)
        dur = {s[0]: (s[6] if s[6] is not None else s[3] - s[2]) for s in spans}
        roots: dict[tuple, list] = {}
        by_root: dict[int, list] = {}
        for s in spans:
            if s[1] in ("wire.http", "wire.native"):
                roots.setdefault((s[1][5:], s[7]["peer"]), []).append(s)
            if s[5] >= 0 and s[5] != s[0]:
                by_root.setdefault(s[5], []).append(s)
        index = {}
        for (wire, peer), rs in roots.items():
            for seq, s in enumerate(sorted(rs, key=lambda s: s[2])):
                index[(wire, peer, seq)] = s
        timed_recs = [r for r in recs if r["phase"] in ("open", "closed", "sweep")]
        wire_self = {"http": [], "native": []}
        plan = {"hot": [], "cold": []}
        exec_ms, ser_ms, ser_ns, ser_rows, enc_ms = [], [], 0, 0, []
        trans = []
        matched = 0
        for r in timed_recs:
            root = index.get((r["wire"], r["port"], r["seq"]))
            if root is None:
                continue
            matched += 1
            kids = by_root.get(root[0], [])
            direct = sum(dur[s[0]] for s in kids if s[4] == root[0])
            wire_self[r["wire"]].append((r["done"] - r["sent"] - direct) / 1e6)
            named = lambda n: [s for s in kids if s[1] == n]  # noqa: E731
            for s in named("engine.execute_to_df"):
                plan.setdefault(r["cls"], []).append(selft[s[0]] / 1e6)
            exec_ms.append(sum(dur[s[0]] for s in kids if s[1] in ("spark.collect", "spark.drain")) / 1e6)
            ser = named("formats.serialize")
            if ser:
                ns = sum(selft[s[0]] for s in ser)
                ser_ms.append(ns / 1e6)
                ser_ns += ns
                ser_rows += r["rows"]
            enc = named("formats.native_encode")
            if enc:
                enc_ms.append(sum(dur[s[0]] for s in enc) / 1e6)
            trans += [dur[s[0]] / 1e6 for s in named("dialect.translate")]
        jobs = [s for s in spans if s[1] == "spark.job" and timed[0] <= s[2] <= timed[1] + 500_000_000]
        n = max(1, len(timed_recs))
        log(f"trace: {len(spans)} spans, {matched}/{len(timed_recs)} timed requests matched, {len(jobs)} jobs")
        if matched < 0.9 * len(timed_recs):
            raise RuntimeError(f"only {matched} of {len(timed_recs)} timed requests have a server span")
        return {
            "wire.http.self_ms.p50": pct(wire_self["http"], 50),
            "wire.http.self_ms.p99": pct(wire_self["http"], 99),
            "wire.native.self_ms.p50": pct(wire_self["native"], 50),
            "wire.native.self_ms.p99": pct(wire_self["native"], 99),
            "wire.resp_bytes.p50": pct([r["bytes"] for r in timed_recs], 50),
            "dialect.translate_ms.p50": pct(trans, 50),
            "dialect.translate_ms.p99": pct(trans, 99),
            "dialect.calls": len(trans) / n,
            "engine.plan_ms.hot.p50": pct(plan["hot"], 50),
            "engine.plan_ms.cold.p50": pct(plan["cold"], 50),
            "spark.exec_ms.p50": pct(exec_ms, 50),
            "spark.jobs_per_query": len(jobs) / n,
            "spark.tasks_per_query": sum(s[7]["tasks"] for s in jobs) / n,
            "formats.serialize_ms.p50": pct(ser_ms, 50),
            "formats.serialize_ns_per_row": ser_ns / ser_rows if ser_rows else 0.0,
            "formats.native_encode_ms.p50": pct(enc_ms, 50),
        }


def main() -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=28)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    log(f"workload {args.workload}, seed {args.seed}, {args.seconds} s, trace {args.trace}, "
        f"{host_cpus()} cpus")
    result = Bench(args.workload, args.seed, args.seconds, bool(args.trace)).run()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(REPO_ROOT, "cowsdb_spark")):
        log(f"no cowsdb_spark package next to {BENCH_DIR}: run from a checkout of the repository")
        sys.exit(2)
    sys.exit(main())
