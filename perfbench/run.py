"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_mixed --seed 1 --seconds 20 --trace 0

Run from the repository root.  Builds the harness (``build.py``), writes
the seeded topics (``gen.py seed``), starts the JVM harness
(``harness/Harness.scala``), starts the open-loop generator once the seed
state is committed, waits for the drain and the correctness check, and
prints a summary followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs with listeners and file walks
and reports the per-layer metrics, and writes the spans to
``.bench_build/results/``.  See ``BENCHMARK.md``.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import build  # noqa: E402

# Offered rate per workload (events/s). Both workloads still kept up at
# twice these rates on a 4-core host.
RATES = {"stream_mixed": 100.0, "stream_dims": 20.0}
# seconds of traffic before the measured window, so the live path's
# first, JIT-cold micro-batches are not measured
WARMUP_S = 4.0
# the heap is committed at start (-Xms = -Xmx): a heap that grows on
# demand made peak RSS follow G1's resizing decisions, not the program
HEAP = "3g"
DEADLINE_S = 170.0
# a run whose generator published a file later than this after its
# events fell due did not offer the rate it claims
LATE_BOUND_MS = 250.0
# the backlog grew over the window, so the offered rate was not
# sustained, when fewer rows than this share of the offered rate were
# committed per second (see analyze.delivered_rows_s)
MIN_DELIVERED_SHARE = 0.8
# CPU steal above this share is reported with the result: on a shared
# host it slows batches, and with them latency, by tens of percent
STEAL_WARN = 0.05

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class Failed(Exception):
    pass


def wait_for(path, proc, deadline):
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise Failed(f"harness exited with {proc.returncode} before {os.path.basename(path)}")
        if time.time() > deadline:
            raise Failed(f"timed out waiting for {os.path.basename(path)}")
        time.sleep(0.02)


def stop(proc):
    if proc is not None and proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_steal_jiffies():
    """(steal, total) jiffies over all CPUs; steal is time the hypervisor
    ran something else while a virtual CPU was ready to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run(args, work):
    steal0 = cpu_steal_jiffies()
    t0 = time.time()
    deadline = t0 + DEADLINE_S
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "seed",
                    "--out", os.path.join(work, "seed"), "--seed", str(args.seed)], check=True)
    os.makedirs(os.path.join(work, "live"))
    for topic in os.listdir(os.path.join(work, "seed")):
        src = os.path.join(work, "seed", topic)
        if os.path.isdir(src):
            shutil.copytree(src, os.path.join(work, "live", topic), copy_function=os.link)
    seed_gen_s = time.time() - t0

    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file under the system temp dir
    jvm_cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        jvm_cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm_cmd += ["-cp", build.classpath(), "perfbench.Harness", "--workdir", work,
                "--trace", str(args.trace)]
    jvm = gen = None
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            jvm = subprocess.Popen(jvm_cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
            wait_for(os.path.join(work, "ready.json"), jvm, deadline)
            gen = subprocess.Popen([
                sys.executable, os.path.join(HERE, "gen.py"), "live",
                "--out", os.path.join(work, "live"), "--seed", str(args.seed),
                "--workload", args.workload, "--rate", str(RATES[args.workload]),
                "--warmup", str(WARMUP_S), "--seconds", str(args.seconds),
                "--log", os.path.join(work, "gen_log.json")])
            gen.wait(max(1.0, deadline - time.time()))
            if gen.returncode != 0:
                raise Failed(f"generator exited with {gen.returncode}")
            jvm.wait(max(1.0, deadline - time.time()))
            if jvm.returncode != 0:
                raise Failed(f"harness exited with {jvm.returncode}")
        except subprocess.TimeoutExpired:
            raise Failed("deadline passed")
        finally:
            stop(gen)
            stop(jvm)

    def load(name):
        with open(os.path.join(work, name)) as f:
            return json.load(f)

    steal1 = cpu_steal_jiffies()
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    ready, gen_log, result = load("ready.json"), load("gen_log.json"), load("result.json")
    ready["seed_gen_s"] = seed_gen_s
    ckpt = result["checkpoint"]
    samples, lost = analyze.attribute(gen_log["files"], analyze.source_file_batches(ckpt),
                                      analyze.commit_times(ckpt))
    fails = analyze.stream_failures(result, gen_log["planted_listings"])
    late = analyze.generator_lateness_ms(gen_log["files"])
    invalid = []
    if late and max(late) > LATE_BOUND_MS:
        invalid.append(f"generator ran {max(late):.0f} ms late (bound {LATE_BOUND_MS:.0f} ms)")
    measured = [x for x in samples if x[0] >= gen_log["start"]]
    e2e = analyze.end_to_end(ready, gen_log, result, samples)
    delivered = e2e["delivered_rows_s"] / RATES[args.workload]
    if delivered < MIN_DELIVERED_SHARE:
        invalid.append(f"backlog grew: {100 * delivered:.0f} % of the offered rate was "
                       f"committed (bound {100 * MIN_DELIVERED_SHARE:.0f} %)")
    tail = analyze.tail_percentile(len(measured))
    if tail is None or tail < 95:
        invalid.append(f"{len(measured)} latency samples are too few for a p95")
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "cores": ready["cores"], "events": gen_log["events"], "lost_events": lost,
               "failures": fails, "invalid": invalid, "tail_percentile": tail,
               "batches_in_window": len({b for _, b, _ in measured}),
               "delivered_share": delivered, "cpu_steal": steal,
               "stream_setup_s": ready["setup_s"], "boot_s": ready["boot_s"],
               "seed_gen_s": seed_gen_s, "end_to_end": e2e}
    results_dir = os.path.join(build.BUILD_DIR, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, f"{args.workload}-seed{args.seed}")
    if args.trace:
        trace = load("trace_events.json")
        spans, layers = analyze.spans_and_layers(trace, samples, gen_log, result)
        metrics = layers
        untraced = stem + "-trace0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            summary["tracing_overhead"] = {k: e2e[k] / base[k] - 1 for k in e2e if k in base}
        summary["per_layer"] = layers
        with open(stem + "-spans.json", "w") as f:
            json.dump({"spans": spans, "per_layer": layers}, f)
    else:
        metrics = e2e
    with open(stem + f"-trace{args.trace}.json", "w") as f:
        json.dump(summary, f, indent=1)

    print(f"# {args.workload} seed={args.seed} cores={ready['cores']} "
          f"events={gen_log['events']} rate={RATES[args.workload]}/s window={args.seconds}s "
          f"batches={summary['batches_in_window']} delivered={100 * delivered:.0f}% "
          f"cpu_steal={100 * steal:.1f}%")
    if steal > STEAL_WARN:
        print(f"# NOISY HOST: {100 * steal:.1f}% of CPU time was stolen by the hypervisor")
    for k, v in (summary.get("per_layer") or e2e).items():
        print(f"#   {k:40s} {v:14.4f}")
    for k, v in summary.get("tracing_overhead", {}).items():
        print(f"#   overhead {k:31s} {100 * v:+13.1f} %")
    for reason in invalid:
        print(f"# INVALID: {reason}")
    for k, v in fails.items():
        print(f"# FAILED check {k}: {v}")
    units = {m["name"]: m["unit"] for m in bench_spec()["end_to_end" if not args.trace else "per_layer"]}
    attempted = gen_log["events"]
    failed = min(attempted, lost + sum(fails.values()))
    print(json.dumps({
        "correct": not fails and not lost and not invalid,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def bench_spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def main():
    # a SIGTERM unwinds through run()'s finally, which stops the children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(RATES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        build.build()
    except SystemExit as e:
        sys.stderr.write(f"build: {e}\n")
        sys.exit(2)
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "runs",
                                        f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run(args, work)
    except Failed as e:
        sys.stderr.write(f"run failed: {e}; log in {work}/jvm.log\n")
        sys.exit(1)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
