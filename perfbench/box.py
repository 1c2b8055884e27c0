"""Disturbance check: was the box busy with something else during a run?

Each end of a run records the load average, the number of runnable
tasks (its minimum over a few samples, so a passing blip does not
count), the system's busy CPU time, and a fixed CPU canary of a few
milliseconds timed several times. After the run, the CPU time that
other processes used while the workload ran is the system's busy time
minus the workload's own, and the steal time is what the hypervisor gave
to other machines. A run is flagged when other processes or other
machines took more than a quarter of a core, when something else was
runnable at either end, or when the canary took twice as long at the
end as at the start.
"""
import os
import resource
import statistics
import time

CANARY_REPS = 7
HZ = os.sysconf("SC_CLK_TCK")


def _canary():
    t0 = time.perf_counter()
    acc = 0
    for i in range(20000):
        acc += i * i
    return time.perf_counter() - t0


def _proc_stat():
    busy, steal, running = 0, 0, 0
    with open("/proc/stat") as f:
        for line in f:
            parts = line.split()
            if parts[0] == "cpu":
                v = [int(x) for x in parts[1:]]
                # user nice system idle iowait irq softirq steal ...
                busy = v[0] + v[1] + v[2] + v[5] + v[6]
                steal = v[7] if len(v) > 7 else 0
            elif parts[0] == "procs_running":
                running = int(parts[1])
    return busy, steal, running


def sample():
    canary, running = [], []
    for _ in range(CANARY_REPS):
        canary.append(_canary())
        running.append(_proc_stat()[2])
        time.sleep(0.005)
    busy, steal, _ = _proc_stat()
    own = sum(r.ru_utime + r.ru_stime for r in (
        resource.getrusage(resource.RUSAGE_SELF), resource.getrusage(resource.RUSAGE_CHILDREN)))
    return {
        "own_s": own,
        "t": time.time(),
        "load1": os.getloadavg()[0],
        "running": min(running) - 1,  # this process is one of them
        "canary_s": statistics.median(canary),
        "busy_s": busy / HZ,
        "steal_s": steal / HZ,
    }


def assess(before, after):
    wall = max(1e-9, after["t"] - before["t"])
    own = after["own_s"] - before["own_s"]
    other = max(0.0, (after["busy_s"] - before["busy_s"]) - own)
    other_cores = other / wall
    steal_cores = (after["steal_s"] - before["steal_s"]) / wall
    canary_ratio = after["canary_s"] / before["canary_s"]
    disturbed = (other_cores > 0.25 or steal_cores > 0.25 or before["running"] > 0
                 or after["running"] > 0 or canary_ratio > 2.0)
    return {
        "box.load1_before": before["load1"],
        "box.running_before": float(before["running"]),
        "box.canary_ratio": canary_ratio,
        "box.other_cores": other_cores,
        "box.steal_cores": steal_cores,
        "box.disturbed": 1.0 if disturbed else 0.0,
    }
