"""Launching and observing the JVM processes under test.

Every child is registered so that `stop_all` can end it; the benchmark
calls it on every exit path and waits for each child to end.
"""
import os
import re
import signal
import subprocess
import threading
import time

# What spark-submit would add on JDK 17 (the same list the sbt build uses).
_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
          "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
          "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

TRACE_PROPS = {
    "spark.extraListeners": "perfbench.TraceListener",
    "spark.sql.streaming.streamingQueryListeners": "perfbench.QueryTraceListener",
}

_children = []


def java_cmd(classpath, main, args, tmpdir, props=None, heap="2g"):
    cmd = ["java", "-Xmx" + heap, "-Djava.io.tmpdir=" + tmpdir]
    for p in _OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-D%s=%s" % kv for kv in sorted((props or {}).items())]
    return cmd + ["-cp", classpath, main] + list(args)


class Child:
    """A launched process whose stdout lines are collected with their
    arrival time (time.perf_counter) by a reader thread. Its peak resident
    memory (VmHWM) is sampled while it runs, so it can be reported after
    the process has ended."""

    def __init__(self, cmd, env, cwd, log_path, stdin=False):
        self.t_launch = time.perf_counter()
        self.log = open(log_path, "wb")
        self.proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=subprocess.PIPE,
                                     stderr=self.log,
                                     stdin=subprocess.PIPE if stdin else subprocess.DEVNULL)
        _children.append(self)
        self.lines = []  # (arrival, bytes without the newline)
        self.bytes_out = 0
        self.cond = threading.Condition()
        self.eof = False
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()
        self.rc = None
        self.hwm_kb = 0
        self.sampler = threading.Thread(target=self._sample_hwm, daemon=True)
        self.sampler.start()

    def _read_hwm(self):
        try:
            with open("/proc/%d/status" % self.proc.pid) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        self.hwm_kb = max(self.hwm_kb, int(line.split()[1]))
        except OSError:
            pass

    def _sample_hwm(self):
        while self.proc.poll() is None:
            self._read_hwm()
            time.sleep(0.2)

    def _read(self):
        for line in self.proc.stdout:
            t = time.perf_counter()
            with self.cond:
                self.lines.append((t, line.rstrip(b"\n")))
                self.bytes_out += len(line)
                self.cond.notify_all()
        with self.cond:
            self.eof = True
            self.cond.notify_all()

    def wait_lines(self, n, timeout, stall=None):
        """Wait until `n` lines arrived, the output ended, `timeout` seconds
        passed, or (with `stall`) no line arrived for `stall` seconds.
        Returns the number of lines received."""
        deadline = time.perf_counter() + timeout
        with self.cond:
            while len(self.lines) < n and not self.eof:
                now = time.perf_counter()
                last = self.lines[-1][0] if self.lines else self.t_launch
                if now >= deadline or (stall is not None and self.lines and now - last >= stall):
                    break
                self.cond.wait(0.05)
            return len(self.lines)

    def send(self, text):
        self.proc.stdin.write(text.encode() + b"\n")
        self.proc.stdin.flush()

    def peak_rss_mb(self):
        """The largest VmHWM read from the process, in MB."""
        self._read_hwm()
        if not self.hwm_kb:
            raise RuntimeError("no peak memory was read from process %d" % self.proc.pid)
        return self.hwm_kb / 1024.0

    def alive(self):
        return self.proc.poll() is None

    def terminate(self, timeout=60):
        """SIGTERM, then wait (SIGKILL after `timeout`). Returns the exit code."""
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
        return self.wait(timeout)

    def kill(self):
        """SIGKILL and wait: ends a launch whose shutdown is not measured."""
        if self.proc.poll() is None:
            self.proc.kill()
        return self.wait()

    def wait(self, timeout=60):
        try:
            self.rc = self.proc.wait(timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.rc = self.proc.wait()
        self.reader.join(10)
        self.log.close()
        return self.rc

    def stderr_text(self):
        with open(self.log.name, "rb") as f:
            return f.read().decode("utf-8", "replace")

    def first_error(self):
        """The first exception line of the process's stderr, or ''."""
        m = re.search(r"^.*(?:Exception|Error)\b.*$", self.stderr_text(), re.M)
        return m.group(0).strip()[:300] if m else ""


def stop_all():
    for c in _children:
        if c.proc.poll() is None:
            c.proc.kill()
        c.proc.wait()
        c.reader.join(10)
        c.sampler.join(10)
    _children.clear()


def child_env(cpus, workdir):
    env = dict(os.environ)
    env.update(SPARK_MASTER="local[%d]" % cpus, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(workdir, "tmp"))
    return env
