"""Seeded FoundationDB trace-log generator with ground truth.

Writes a rollover-named corpus of TraceEvents under <out_dir>/logs for the
`trace_diagnose` workload: eight simulated processes, two rollover files
each (trace.<ip>.<port>.<epoch>.<rand>.<seq>.<part>.<ext>). Storage, TLog
and master processes log XML, the commit proxy logs JSON lines and the
ratekeeper logs plaintext `key=value` lines. Every event carries the
TraceEvent envelope (the engine's MANDATORY_FIELDS) plus a free-form payload.

An early slice of the timeline holds the parser edge cases: events without
`DateTime`, non-integer `Severity`, multi-token numerics, truncated XML and
JSON lines, blank lines and garbage lines; dotted `P99.9` keys and
+-1.79769e308 sentinels run throughout. With `faults=True` five faults are
injected, each at the reference detector thresholds; background traffic
stays under every one.

The manifest (<out_dir>/manifest.json) is computed from the written lines
with the parse rules the engine documents (XML attribute regex, JSON object
or `key=value` fallback, Python float() for numeric payload values), so the
benchmark can check the stored tables against it. Single-threaded; the same
seed gives byte-identical files.

Usage: python3 gen_traces.py <out_dir> <n_events> <seed> [--faults]
"""
import json
import os
import random
import re
import sys
import time as _time

BASE_EPOCH = 1740787200  # 2025-03-01T00:00:00Z

# graft.trace.TraceEvents.MandatoryFields: envelope keys kept out of the
# payload map, hence out of event_metrics
MANDATORY = {"Severity", "Time", "DateTime", "Type", "Process", "Role", "PID",
             "Machine", "MachineId", "Address", "LogGroup", "File", "Line"}

XML_ATTR = re.compile(r'([\w.]+)="([^"]*)"')
KV_ATTR = re.compile(r'(\w+)=([^\s]+)')

# (machine, role, log format); two rollover files per process
PROCESSES = [
    ("10.0.0.1:4500", "SS", "xml"), ("10.0.0.2:4500", "SS", "xml"),
    ("10.0.0.3:4500", "SS", "xml"), ("10.0.0.4:4500", "SS", "xml"),
    ("10.0.0.5:4500", "TL", "xml"), ("10.0.0.6:4500", "MS", "xml"),
    ("10.0.0.7:4500", "CP", "json"), ("10.0.0.8:4500", "RK", "log"),
]
PARTS = 2
EVENTS_PER_SECOND = 10.0  # background rate of the process mix below
EDGE_SLICE = 0.10         # edge cases live in the first tenth of the run
SENTINEL = "1.79769e+308"


def py_float_ok(s):
    """Python float(str) acceptance, as graft.functions.PyNum.pyFloat (which
    implements it without underscores or hex)."""
    if "_" in s:
        return False
    try:
        float(s)
        return True
    except ValueError:
        return False


def iso(sec):
    return _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime(sec))


class Corpus:
    def __init__(self, n_events, seed, faults):
        self.rng = random.Random(seed)
        self.seed = seed
        self.duration = max(600, int(n_events / EVENTS_PER_SECOND))
        self.faults = faults
        self.streams = {p[0]: [] for p in PROCESSES}
        self.fault_log = []
        self.edge = {"no_datetime": 0, "non_integer_severity": 0,
                     "multi_token_numeric": 0, "dotted_key_events": 0,
                     "sentinel_values": 0, "truncated_lines": 0,
                     "garbage_lines": 0, "blank_lines": 0}
        self.ids = {}
        # fault anchors (epoch seconds), fixed before any traffic is drawn
        d = self.duration
        self.anchor = {name: BASE_EPOCH + int(d * frac) +
                       self.rng.randint(0, 60) for name, frac in
                       [("storage_pressure", 0.30), ("recovery_cascade", 0.45),
                        ("tlog_failure", 0.55),
                        ("ratekeeper_throttling", 0.65),
                        ("version_rollback", 0.75)]} if faults else {}
        rb = self.anchor.get("version_rollback")
        self.drop_secs = {rb, rb + 30} if faults else set()
        self.drop_times = []

    # ---- event construction ---------------------------------------------
    def hex_id(self, machine):
        if machine not in self.ids:
            # first digit a-f: an ID must never parse as a number
            self.ids[machine] = (self.rng.choice("abcdef") +
                                 "%015x" % self.rng.getrandbits(60))
        return self.ids[machine]

    def event(self, machine, role, t, typ, sev=10, payload=(), drop_dt=False,
              severity_text=None):
        attrs = [("Severity", severity_text or str(sev)),
                 ("Time", "%.6f" % t)]
        if not drop_dt:
            attrs.append(("DateTime", iso(int(t))))
        attrs += [("Type", typ), ("ID", self.hex_id(machine)),
                  ("Machine", machine), ("LogGroup", "default"),
                  ("Roles", role)]
        attrs += list(payload)
        self.streams[machine].append((t, attrs))

    def edge_time(self, t):
        return t < BASE_EPOCH + self.duration * EDGE_SLICE

    # ---- background traffic ---------------------------------------------
    def background(self):
        r = self.rng
        start, end = BASE_EPOCH, BASE_EPOCH + self.duration
        version = 1_000_000_000
        for machine, role, _ in PROCESSES:
            self.event(machine, role, start + r.random() * 0.5, "ProgramStart",
                       payload=[("Version", "7.3.63"),
                                ("CommandLine", "fdbserver --listen-address %s"
                                 " --datadir data/%s" % (machine,
                                                         machine[-4:]))])
        for sec in range(start + 1, end):
            for machine, role, _ in PROCESSES:
                if role == "SS":
                    self.event(machine, role, sec + r.random(),
                               "StorageMetrics", payload=[
                                   ("VersionLag", str(r.randint(500, 20000))),
                                   ("BytesInput",
                                    str(r.randint(1_000_000, 9_000_000))),
                                   ("DurabilityLag",
                                    "%.3f" % r.uniform(0.5, 5.0)),
                                   ("QueryQueue", str(r.randint(0, 80))),
                                   ("Elapsed", "5.0")])
                    if sec % 5 == 0:
                        self.key_metrics(machine, role, sec + r.random())
                elif role == "TL":
                    self.event(machine, role, sec + r.random(), "TLogMetrics",
                               payload=[("QueueBytes",
                                         str(r.randint(10_000, 900_000))),
                                        ("Elapsed", "5.0")])
                elif role == "MS" and sec % 2 == 0:
                    self.event(machine, role, sec + r.random(),
                               "ClusterControllerMetrics",
                               payload=[("OpenDatabaseRequests",
                                         str(r.randint(1, 40)))])
                elif role == "CP":
                    # one version-carrying event per second, cluster-wide:
                    # the rollback scan orders by (ts, event_id), so no two
                    # CommittedVersion values may share a second. An
                    # injected rollback steps the version back; versions
                    # stay far above the 1M reset threshold.
                    if sec in self.drop_secs:
                        version -= r.randint(200_000, 900_000)
                    else:
                        version += r.randint(1_000, 100_000)
                    t = sec + r.random()
                    if sec in self.drop_secs:
                        self.drop_times.append(t)
                    self.event(machine, role, t, "ProxyMetrics", payload=[
                        ("CommittedVersion", str(version)),
                        ("TxnCommitIn", str(r.randint(100, 5000))),
                        ("Mutations", str(r.randint(100, 20000)))])
                elif role == "RK":
                    self.event(machine, role, sec + r.random(), "RkUpdate",
                               payload=[("TPSLimit",
                                         str(r.randint(100_000, 200_000))),
                                        ("ReleasedTPS",
                                         str(r.randint(1_000, 90_000)))])
                if sec % 5 == 2:
                    self.process_metrics(machine, role, sec + r.random())
                if r.random() < 0.01:
                    self.event(machine, role, sec + r.random(), "SlowTask",
                               sev=20, payload=[("Duration",
                                                 "%.3f" % r.uniform(0.1, 2))])
                if r.random() < 0.002:
                    self.event(machine, role, sec + r.random(),
                               "N2_ConnectError", sev=30, payload=[
                                   ("SuppressedEventCount",
                                    str(r.randint(0, 9))),
                                   ("PeerAddr", r.choice(PROCESSES)[0])])

    def key_metrics(self, machine, role, t):
        r = self.rng
        if r.random() < 0.1:
            # an empty latency sample: FDB logs the +-DBL_MAX sentinels
            lo, hi, mean = SENTINEL, "-" + SENTINEL, "0"
            self.edge["sentinel_values"] += 2
        else:
            lo = "%.6f" % r.uniform(0.0001, 0.001)
            hi = "%.6f" % r.uniform(0.005, 0.02)
            mean = "%.6f" % r.uniform(0.001, 0.005)
        self.edge["dotted_key_events"] += 1
        self.event(machine, role, t, "GetKeyMetrics", payload=[
            ("Min", lo), ("Max", hi), ("Mean", mean),
            ("Median", "%.6f" % r.uniform(0.001, 0.004)),
            ("P25", "%.6f" % r.uniform(0.0005, 0.002)),
            ("P90", "%.6f" % r.uniform(0.004, 0.008)),
            ("P95", "%.6f" % r.uniform(0.005, 0.009)),
            ("P99", "%.6f" % r.uniform(0.006, 0.01)),
            ("P99.9", "%.6f" % r.uniform(0.008, 0.015)),
            ("Count", str(r.randint(10, 5000))), ("Elapsed", "5.0")])

    def process_metrics(self, machine, role, t):
        r = self.rng
        cpu = "%.3f" % r.uniform(0.5, 4.0)
        kw = {}
        if self.edge_time(t) and role in ("SS", "TL", "CP"):
            roll = r.random()
            if roll < 0.06:
                kw["drop_dt"] = True
                self.edge["no_datetime"] += 1
            elif roll < 0.12:
                kw["severity_text"] = r.choice(["10.5", "Warn", "1e1"])
                self.edge["non_integer_severity"] += 1
            elif roll < 0.18:
                cpu = r.choice(["3.2 -1 inf", "0.1 0.5 -1", "-1 -1"])
                self.edge["multi_token_numeric"] += 1
        self.event(machine, role, t, "ProcessMetrics", payload=[
            ("CPUSeconds", cpu),
            ("Memory", str(r.randint(100_000_000, 900_000_000))),
            ("ResidentMemory", str(r.randint(50_000_000, 400_000_000))),
            ("MainThreadCPUSeconds", "%.3f" % r.uniform(0.1, 1.0))], **kw)

    # ---- injected faults ------------------------------------------------
    def inject(self):
        r = self.rng
        at = self.anchor.get

        def log(name, detector, times, hits):
            self.fault_log.append({"fault": name, "detector": detector,
                                   "window": [iso(int(min(times))),
                                              iso(int(max(times)))],
                                   "expected_hits": hits})

        # storage pressure: VersionLag > 50k on one storage server; the first
        # sample crosses 100k, which the timeline reports
        t0 = at("storage_pressure")
        ss = PROCESSES[0]
        times = [t0 + 5 * i + r.random() for i in range(12)]
        for i, t in enumerate(times):
            lag = 150_000 + r.randint(0, 50_000) if i == 0 else \
                r.randint(60_000, 400_000)
            self.event(ss[0], ss[1], t, "StorageMetrics", sev=20, payload=[
                ("VersionLag", str(lag)),
                ("BytesInput", str(r.randint(1_000_000, 9_000_000))),
                ("DurabilityLag", "%.3f" % r.uniform(0.5, 5.0)),
                ("QueryQueue", str(r.randint(0, 80))), ("Elapsed", "5.0")])
        log("storage_pressure", "storage_pressure", times, len(times))
        self.first_lag_100k = int(times[0])

        # recovery cascade: 4 MasterRecoveryState events inside 60 s; the
        # detector counts the 2 positions whose 3rd-next event is in window
        t0 = at("recovery_cascade")
        ms = PROCESSES[5]
        steps = [("0", "reading_coordinated_state"),
                 ("1", "locking_coordinated_state"),
                 ("3", "reading_transaction_system_state"),
                 ("7", "recruiting_transaction_servers")]
        times = [t0 + 12 * i + r.random() for i in range(len(steps))]
        for t, (code, status) in zip(times, steps):
            self.event(ms[0], ms[1], t, "MasterRecoveryState", sev=20,
                       payload=[("StatusCode", code), ("Status", status)])
        log("recovery_cascade", "recovery_loop", times, len(times) - 2)
        self.first_recovery = int(times[0])

        # TLog failure
        t0 = at("tlog_failure")
        tl = PROCESSES[4]
        times = [t0 + 2 * i + r.random() for i in range(3)]
        for t in times:
            self.event(tl[0], tl[1], t, "TLogError", sev=40,
                       payload=[("Error", "io_timeout"),
                                ("ErrorCode", "1031")])
        log("tlog_failure", "missing_tlogs", times, len(times))

        # ratekeeper throttling (plaintext log)
        t0 = at("ratekeeper_throttling")
        rk = PROCESSES[7]
        times = [t0 + 10 * i + r.random() for i in range(5)]
        for t in times:
            self.event(rk[0], rk[1], t, "RatekeeperThrottle", sev=20,
                       payload=[("ThrottleReason", "storage_write_queue"),
                                ("TPSLimit", str(r.randint(1_000, 9_000)))])
        log("ratekeeper_throttling", "ratekeeper_throttling", times,
            len(times))

        # CommittedVersion rollback: drawn with the proxy's version stream
        log("version_rollback", "rollback", self.drop_times,
            len(self.drop_times))

    # ---- rendering --------------------------------------------------------
    def render(self, log_dir):
        r = self.rng
        os.makedirs(log_dir, exist_ok=True)
        files = []
        for pi, (machine, role, fmt) in enumerate(PROCESSES):
            stream = sorted(self.streams[machine], key=lambda e: e[0])
            ip, port = machine.split(":")
            tag = "".join(r.choice("abcdefghijkmnopqrstuvwxyzABCDEFGH")
                          for _ in range(6))
            cut = len(stream) // PARTS
            for part in range(PARTS):
                chunk = stream[part * cut:] if part == PARTS - 1 else \
                    stream[part * cut:(part + 1) * cut]
                ext = {"xml": "xml", "json": "json", "log": "log"}[fmt]
                name = "trace.%s.%s.%d.%s.0.%d.%s" % (
                    ip, port, BASE_EPOCH, tag, part + 1, ext)
                lines = self.render_lines(chunk, fmt, machine, role)
                # the last XML rollover file of the first storage server is
                # torn mid-event, as a crashed process leaves it
                torn = fmt == "xml" and pi == 0 and part == PARTS - 1
                if fmt == "xml":
                    lines = ['<?xml version="1.0"?>', "<Trace>"] + lines
                    if torn:
                        last = lines[-1]
                        lines[-1] = last[:len(last) // 2]
                        self.edge["truncated_lines"] += 1
                    else:
                        lines.append("</Trace>")
                with open(os.path.join(log_dir, name), "w") as f:
                    f.write("\n".join(lines) + "\n")
                files.append(name)
        return files

    def render_lines(self, chunk, fmt, machine, role):
        r = self.rng
        out = []
        for t, attrs in chunk:
            edge = self.edge_time(t)
            if fmt == "xml":
                line = "<Event " + " ".join('%s="%s"' % kv for kv in attrs) \
                    + "/>"
                if edge and r.random() < 0.004 and \
                        dict(attrs)["Type"] == "ProcessMetrics":
                    line = line[:int(len(line) * r.uniform(0.3, 0.8))]
                    self.edge["truncated_lines"] += 1
                out.append(line)
            elif fmt == "json":
                line = json.dumps(dict(attrs))
                if edge and r.random() < 0.004 and \
                        dict(attrs)["Type"] == "ProcessMetrics":
                    line = line[:int(len(line) * r.uniform(0.3, 0.8))]
                    self.edge["truncated_lines"] += 1
                out.append(line)
                if edge and r.random() < 0.01:
                    out.append("")
                    self.edge["blank_lines"] += 1
            else:  # plaintext key=value, with JSON lines mixed in
                if r.random() < 0.1:
                    out.append(json.dumps(dict(attrs)))
                else:
                    out.append(" ".join("%s=%s" % kv for kv in attrs
                                        if " " not in kv[1]))
                if edge and r.random() < 0.01:
                    out.append("")
                    self.edge["blank_lines"] += 1
                if edge and r.random() < 0.004:
                    out.append("-- log rotated by supervisor --")
                    self.edge["garbage_lines"] += 1
        return out


def parse_line(line, xml):
    """The attribute bag the engine's readers build for one line, or None
    when the line produces no event row."""
    if xml:
        if "<Event " not in line:
            return None
        return dict(XML_ATTR.findall(line))
    if line.strip() == "":
        return None
    try:
        obj = json.loads(line.strip())
        if isinstance(obj, dict):
            return {k: v for k, v in obj.items()}
    except ValueError:
        pass
    return dict(KV_ATTR.findall(line))


def manifest(log_dir, files, corpus):
    rows = metrics = complete = 0
    raw_bytes = 0
    for name in files:
        path = os.path.join(log_dir, name)
        raw_bytes += os.path.getsize(path)
        xml = name.endswith(".xml")
        with open(path) as f:
            for line in f.read().split("\n"):
                bag = parse_line(line, xml)
                if bag is None:
                    continue
                rows += 1
                if "Type" in bag and "DateTime" in bag:
                    complete += 1
                metrics += sum(1 for k, v in bag.items()
                               if k not in MANDATORY and py_float_ok(v))
    return {
        "seed": corpus.seed,
        "files": files,
        "raw_bytes": raw_bytes,
        "duration_s": corpus.duration,
        "events_rows": rows,
        "valid_events": complete,
        "event_metrics_rows": metrics,
        "edge_cases": corpus.edge,
        "faults": corpus.fault_log,
        "first_lag_100k_epoch": corpus.first_lag_100k
        if corpus.faults else None,
        "first_recovery_epoch": corpus.first_recovery
        if corpus.faults else None,
    }


def generate(out_dir, n_events, seed, faults=True):
    corpus = Corpus(n_events, seed, faults)
    corpus.background()
    if faults:
        corpus.inject()
    log_dir = os.path.join(out_dir, "logs")
    files = corpus.render(log_dir)
    m = manifest(log_dir, files, corpus)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    return m


if __name__ == "__main__":
    m = generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]),
                 "--faults" in sys.argv[4:])
    print(json.dumps({k: m[k] for k in ("events_rows", "event_metrics_rows",
                                        "raw_bytes")}))
