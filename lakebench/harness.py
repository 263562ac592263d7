"""Build, process and load-generation plumbing for the lakehouse benchmark."""
import hashlib
import http.client
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_DIR = os.path.join(HERE, "jvm")
CLASSES = os.path.join(JVM_DIR, "target", "scala-2.13", "classes")
STAMP = os.path.join(JVM_DIR, "target", "lakebench.stamp")

# Spark 4 on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(*a):
    print("[lakebench]", *a, file=sys.stderr, flush=True)


def source_digest(root):
    """Hash of every source the JVM side is compiled from."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(JVM_DIR, "src")]
    files = [os.path.join(JVM_DIR, "build.sbt"),
             os.path.join(JVM_DIR, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, or the installation that `spark-submit` on the PATH is from."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("lakebench: set SPARK_HOME to a Spark installation")
    return home


def ensure_built(root):
    """Compile the program and the benchmark's JVM side unless the classes
    on disk were built from exactly the current sources."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("lakebench: no program sources under src/main/scala/graft; "
                         "run from the root of a checkout")
    digest = source_digest(root)
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("compiling (sbt) ...")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
                       cwd=JVM_DIR, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, env=dict(os.environ, SPARK_HOME=spark_home()))
    if r.returncode != 0:
        raise SystemExit(f"lakebench: build failed ({r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"compiled in {time.time() - t0:.1f}s")


class Jvm:
    """The program's JVM, driven one JSON command per line (see
    lakebench.Main). Its stderr goes to a log file in the work directory."""

    def __init__(self, work):
        self.work = work
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        # A fixed heap: the collector never resizes it mid-run, so its work,
        # and the latency it adds, repeats from run to run.
        cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", f"{CLASSES}:{spark_home()}/jars/*", "lakebench.Main", "--work", work])
        self.err = open(os.path.join(work, "jvm.log"), "w")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.err, text=True, bufsize=1)
        self._read()  # the "session" event: the Spark session is up
        self.session_s = time.perf_counter() - self.t_launch

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("@@ "):
                return json.loads(line[3:])
        raise RuntimeError(f"JVM exited ({self.proc.wait()}); see {self.work}/jvm.log")

    def call(self, cmd, **kw):
        self.proc.stdin.write(json.dumps(dict(cmd=cmd, **kw)) + "\n")
        self.proc.stdin.flush()
        r = self._read()
        if "error" in r:
            raise RuntimeError(f"JVM command {cmd} failed: {r['error']}")
        return r

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM")

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write('{"cmd":"quit"}\n')
                self.proc.stdin.flush()
                self.proc.wait(timeout=60)
            except Exception:
                self.proc.kill()
                self.proc.wait()
        self.err.close()


class Http:
    """One keep-alive connection to the program's HTTP server."""

    def __init__(self, port):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def request(self, method, path):
        for attempt in (0, 1):
            try:
                self.conn.request(method, path)
                r = self.conn.getresponse()
                return r.status, r.read()
            except (http.client.HTTPException, OSError):
                self.conn.close()
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
                if attempt:
                    raise

    def get_json(self, path):
        status, body = self.request("GET", path)
        return status, (json.loads(body) if status == 200 else body[:300])

    def close(self):
        self.conn.close()


def q(s):
    return urllib.parse.quote(s, safe="")


class Op:
    """One request of a workload: a path and the check its answer must pass."""
    __slots__ = ("kind", "path", "check")

    def __init__(self, kind, path, check):
        self.kind, self.path, self.check = kind, path, check


class Results:
    def __init__(self):
        self.lock = threading.Lock()
        self.lat = []          # (kind, latency ms from due time)
        self.failed = []       # (kind, reason)
        self.attempted = 0

    def add(self, kind, ms, err):
        with self.lock:
            self.attempted += 1
            if err is None:
                self.lat.append((kind, ms))
            else:
                self.failed.append((kind, err))


def execute(conn, op):
    """Send one op; None when status and content are right, else a reason.
    An op with a `resolve()` method is replaced by its result at send time."""
    if hasattr(op, "resolve"):
        op = op.resolve()
    try:
        status, body = conn.get_json(op.path)
    except Exception as e:  # noqa: BLE001 - any transport failure is a failed op
        return f"transport: {e}"
    if status != 200:
        return f"status {status}: {body!r}"
    try:
        return op.check(body)
    except Exception as e:  # noqa: BLE001
        return f"check raised {e!r}"


def open_loop(port, ops, rate, seconds, connections, res):
    """Send `ops` at a fixed `rate` for `seconds` over `connections`
    connections. Each request is timed from its due time, so a stall also
    charges the requests queued behind it. Returns how late, in ms, the
    generator handed requests to a free connection, as a list."""
    due_q = queue.Queue()
    late = []
    t0 = time.perf_counter() + 0.05
    n = int(rate * seconds)

    def worker():
        conn = Http(port)
        while True:
            item = due_q.get()
            if item is None:
                break
            due, op = item
            start = time.perf_counter()
            late.append((start - due) * 1000.0)
            err = execute(conn, op)
            res.add(op.kind, (time.perf_counter() - due) * 1000.0, err)
        conn.close()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(connections)]
    for t in threads:
        t.start()
    for i in range(n):
        due = t0 + i / rate
        wait = due - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        due_q.put((due, ops[i % len(ops)]))
    for _ in threads:
        due_q.put(None)
    for t in threads:
        t.join()
    return late


def pct(xs, p):
    """Linear-interpolated percentile, p in [0, 100]; None when empty."""
    if not len(xs):
        return None
    s = sorted(xs)
    x = (len(s) - 1) * p / 100.0
    lo = int(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)
