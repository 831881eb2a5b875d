"""Host record of one run: core count, load average at start/max/end, and
the CPU steal and iowait share over the run window from /proc/stat. It is
written beside the run's metrics and never used to drop or reweight runs."""
import os
import threading


def _loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def _cpu_times():
    """(total, steal, iowait) jiffies of the aggregate cpu line."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return sum(v[:8]), v[7] if len(v) > 7 else 0, v[4] if len(v) > 4 else 0


class HostRecord:
    def __init__(self, interval=0.5):
        self.nproc = os.cpu_count()
        self.load_start = self.load_max = _loadavg()
        self._t0 = _cpu_times()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, args=(interval,), daemon=True)
        self._thread.start()

    def _poll(self, interval):
        while not self._stop.wait(interval):
            self.load_max = max(self.load_max, _loadavg())

    def finish(self):
        self._stop.set()
        self._thread.join()
        end, t1 = _loadavg(), _cpu_times()
        rec = {"nproc": self.nproc, "loadavg_start": self.load_start,
               "loadavg_max": max(self.load_max, end), "loadavg_end": end}
        if self._t0 and t1 and t1[0] > self._t0[0]:
            total = t1[0] - self._t0[0]
            rec["steal_share"] = (t1[1] - self._t0[1]) / total
            rec["iowait_share"] = (t1[2] - self._t0[2]) / total
        return rec
