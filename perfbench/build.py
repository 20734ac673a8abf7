"""Builds the engine and the benchmark's JVM side from source.

Compiles `src/main/scala` together with `perfbench/scala` with the Scala
compiler shipped among the Spark jars the repo's `build.sbt` points at
(`unmanagedBase`), into `app.jar` in a build directory keyed by a hash of
every source. A finished build also holds

- `oracles.json`, every registered query's oracle SQL, next to the file
  fixtures that SQL reads;
- `app.jsa`, a class-data-sharing archive of the classes a session start
  loads (`perfbench.Main setup` run once with `-XX:ArchiveClassesAtExit`).
  Every benchmark JVM maps it, which halves a fresh JVM's set-up (about
  9 s to 4.5 s on 4 cores) and so leaves the run's time budget to the
  measuring JVMs. The archive names the jar paths, so it is made in the
  build directory's final place.

A build runs under a lock and is marked finished last, so a finished
build is reused as is and an unfinished one is redone.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory `build.sbt` declares as `unmanagedBase`."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        raise BuildError("no Spark jar directory with a Scala compiler "
                         "declared in build.sbt (unmanagedBase)")
    return m.group(1)


def sources(root):
    files = []
    for d in ("src/main/scala", "perfbench/scala"):
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    if not any("/src/main/scala/" in f for f in files):
        raise BuildError("no engine sources under src/main/scala")
    return sorted(files)


def java_cmd(jars, classes, *args, heap="3g", props=(), archive=True):
    """A benchmark JVM over the build in `classes`, mapping the build's
    class-data-sharing archive unless `archive` is false."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cds = [f"-XX:SharedArchiveFile={classes}/app.jsa"] if archive else []
    return (["java", "-XX:-UsePerfData", *opens, f"-Xmx{heap}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", *cds, *props,
             "-cp", f"{classes}/app.jar{os.pathsep}{jars}/*"] + list(args))


def ensure(root, cache, log):
    """(jars, classes, fixtures) for the current sources, built if missing.

    `classes` is the build directory. `fixtures` holds the files the
    oracle SQL reads: the `oracles` step runs with it as `java.io.tmpdir`,
    so the SQL names files there, and creates them. It belongs to one
    build, like the build directory.
    """
    jars = spark_jars(root)
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(cache, "build-" + h.hexdigest()[:16])
    fixtures = os.path.join(cache, "fixtures-" + h.hexdigest()[:16])
    done = os.path.join(out, "finished")
    os.makedirs(cache, exist_ok=True)
    with open(os.path.join(cache, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(done):
            return jars, out, fixtures
        for d in (out, fixtures):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        scratch = os.path.join(out, "tmp")
        steps = [
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
             "scala.tools.nsc.Main", "-nowarn", "-d", os.path.join(out, "app.jar"),
             "-classpath", f"{jars}/*"] + files,
            java_cmd(jars, out, "perfbench.Main", "oracles",
                     os.path.join(out, "oracles.json"), heap="1g",
                     props=[f"-Djava.io.tmpdir={fixtures}"], archive=False),
            java_cmd(jars, out, "perfbench.Main", "setup", archive=False,
                     props=[f"-Djava.io.tmpdir={scratch}",
                            f"-XX:ArchiveClassesAtExit={out}/app.jsa"]),
            # the archive maps, or the JVM fails
            java_cmd(jars, out, "perfbench.Main", "setup",
                     props=[f"-Djava.io.tmpdir={scratch}", "-Xshare:on"]),
        ]
        with open(log, "w") as lf:
            for cmd in steps:
                os.makedirs(scratch, exist_ok=True)
                rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
                if rc != 0:
                    raise BuildError(f"build failed (exit {rc}); see {log}")
        shutil.rmtree(scratch, ignore_errors=True)
        open(done, "w").close()
    return jars, out, fixtures
