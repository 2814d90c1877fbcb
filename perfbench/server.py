"""Build the program and the benchmark's server from source, and run the
data-plane server (perfbench.BenchServer) as a child process.

The build is cached under `.bench_build/` keyed by a hash of every build
input and of the compiled class directories it points at; a checkout
builds once. The server takes one JSON request per line on its stdin
and answers each with one JSON line on its stdout (see
BenchServer.scala); it is stopped on every exit path of `Server`'s
context manager.
"""
import hashlib
import json
import os
import pathlib
import queue
import subprocess
import sys
import threading
import time

import pyarrow.flight as flight

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# a fixed, pre-touched heap: peak RSS then does not depend on when G1
# decides to grow the heap, and reflects native memory on top of it; the
# memory the program keeps live inside the heap is measured separately
HEAP = "2g"
TOKEN = "perfbench-secret"
# temp-dir prefixes the Flight service creates for staging and spills
SPILL_PREFIXES = ("graft_flight_stage_", "graft_put_spill_",
                  "graft_flight_append_")


T0 = time.perf_counter()


def log(msg):
    """A stderr line stamped with the seconds since the run started."""
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def build_inputs(root):
    jvm = root / "perfbench" / "jvm"
    files = [root / "build.sbt", jvm / "build.sbt"]
    for d in (root / "project", jvm / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (root / "src" / "main", jvm / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def classes_stamp(classpath):
    """Names, sizes and modification times of every file under the
    classpath's directories (the compiled program and server): a cached
    classpath is only reused while these are the ones it was built into."""
    h = hashlib.sha256()
    for entry in classpath.split(os.pathsep):
        d = pathlib.Path(entry)
        if d.is_dir():
            for f in sorted(p for p in d.rglob("*") if p.is_file()):
                st = f.stat()
                h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root):
    """Compile the program and BenchServer; return the runtime classpath."""
    if not (root / "build.sbt").is_file() or \
            not (root / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"no program sources under {root}: "
                         "build.sbt and src/main/scala are required")
    h = hashlib.sha256()
    for f in build_inputs(root):
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = root / ".bench_build"
    cache = out / "classpath.json"
    if cache.is_file():
        cached = json.loads(cache.read_text())
        if cached.get("stamp") == stamp and \
                cached.get("classes") == classes_stamp(cached["classpath"]):
            return cached["classpath"]
    out.mkdir(exist_ok=True)
    # keep sbt's JVMs from writing outside the checkout where they can:
    # no boot lock, no hsperfdata (also for the launcher's `java -version`
    # probe, hence JAVA_TOOL_OPTIONS), JNA's temp files under .bench_build
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    opts = ["-Xmx2g", "-Dsbt.offline=true", "-Dsbt.boot.lock=false",
            "-XX:-UsePerfData", f"-Djna.tmpdir={out / 'jna'}"]
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the benchmark server (sbt) ...")
    t0 = time.time()
    res = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=root / "perfbench" / "jvm", env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=850)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        raise SystemExit(f"build failed (sbt exit {res.returncode})")
    cp = [ln for ln in res.stdout.splitlines()
          if ln.startswith("/") and "perfbench" in ln]
    if not cp:
        raise SystemExit("build printed no classpath")
    log(f"built in {time.time() - t0:.0f}s")
    cache.write_text(json.dumps({"stamp": stamp, "classpath": cp[-1],
                                 "classes": classes_stamp(cp[-1])}))
    return cp[-1]


class Server:
    """One BenchServer JVM with its own working directory: Spark local
    dirs and java.io.tmpdir (where the Flight service stages and spills)
    live under `work`, and its log in `work/server.log`."""

    def __init__(self, classpath, work, cpus):
        self.classpath, self.work, self.cpus = classpath, work, cpus
        self.tmp = work / "tmp"
        self.proc = None
        self.port = None
        self.lines = queue.Queue()

    def __enter__(self):
        for d in (self.tmp, self.work / "spark-local"):
            d.mkdir(parents=True, exist_ok=True)
        cmd = ["java"] + [a for p in ADD_OPENS
                          for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={self.tmp}", "-Dspark.ui.enabled=false",
            "-cp", self.classpath,
            "perfbench.BenchServer", str(self.cpus), TOKEN]
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(self.work / "spark-local"))
        self.log = open(self.work / "server.log", "w")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=self.work, env=env,
                                     stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log,
                                     text=True, bufsize=1)
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()
        try:
            self.port = self._answer("start", 120)["port"]
        except BaseException:
            self.stop()
            raise
        self.start_s = time.perf_counter() - t0
        return self

    def __exit__(self, *exc):
        self.stop()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("{"):  # answers are JSON objects, one a line
                self.lines.put(line)
            else:
                self.log.write(line)
        self.lines.put(None)  # the server closed its stdout

    def _answer(self, what, timeout):
        try:
            line = self.lines.get(timeout=timeout)
        except queue.Empty:
            line = None
        if line is None:
            self._fail(f"no answer to {what}")
        return json.loads(line)

    def _fail(self, why):
        self.log.flush()
        tail = (self.work / "server.log").read_text()[-3000:]
        raise RuntimeError(f"{why}; server log tail:\n{tail}")

    def stop(self):
        """Ask the server to stop; kill it if it does not within 30 s (or
        at once if it never became ready), and wait until it has ended."""
        if self.proc is None:
            return
        try:
            if self.port is not None and self.proc.poll() is None:
                try:
                    self.request({"op": "stop"}, timeout=30)
                    self.proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - fall back to kill
                    pass
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
            self.proc.wait()
            self.reader.join()
            try:  # unsent bytes of a request to a dead server
                self.proc.stdin.close()
            except OSError:
                pass
            self.proc.stdout.close()
            self.proc = None
            self.log.close()

    def request(self, req, timeout=120):
        """Send one control request and wait for its answer."""
        self.proc.stdin.write(json.dumps(req) + "\n")
        self.proc.stdin.flush()
        out = self._answer(req.get("op"), timeout)
        if "error" in out:
            raise RuntimeError(f"{req.get('op')} failed: {out['error']}")
        return out

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def dirs_left(self):
        return sum(1 for p in self.tmp.iterdir()
                   if p.is_dir() and p.name.startswith(SPILL_PREFIXES))

    def client(self):
        c = flight.FlightClient(f"grpc+tcp://127.0.0.1:{self.port}")
        pair = c.authenticate_basic_token("perfbench", TOKEN)
        return c, flight.FlightCallOptions(headers=[pair])

