"""Builds what the benchmark runs: the engine jar (with the repository's own
sbt build) and the benchmark's client (harness/src, compiled with the Scala
compiler that ships among the Spark jars the root build uses).

Both builds are skipped when their sources are unchanged since the last one;
a stamp of source hashes under the build directory decides. The build
directory is $CARGO_TARGET_DIR if set, else .bench_build, relative to the
repository root.

    python3 perfbench/build.py        # from the repository root
"""

import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars(root):
    """The directory the root build takes its Spark jars from (its unmanagedBase)."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase directory of Spark jars")
    return m.group(1)


def _hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _engine_sources(root):
    files = [os.path.join(root, "build.sbt")]
    files += glob.glob(os.path.join(root, "project", "*.sbt")) + glob.glob(os.path.join(root, "project", "*.scala"))
    files += glob.glob(os.path.join(root, "project", "build.properties"))
    files += [p for p in glob.glob(os.path.join(root, "src", "main", "**", "*"), recursive=True) if os.path.isfile(p)]
    return files


def engine_jar(root):
    jars = [j for j in glob.glob(os.path.join(root, "target", "scala-*", "*.jar"))
            if not j.endswith(("-tests.jar", "-sources.jar", "-javadoc.jar"))]
    return max(jars, key=os.path.getmtime) if jars else None


def _run(cmd, log, cwd, env=None):
    with open(log, "w") as out:
        rc = subprocess.run(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"build step failed ({rc}): {' '.join(cmd[:3])} ...; log in {log}")


def _sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Builds what changed; returns (classpath, build directory)."""
    if not os.path.isfile(os.path.join(root, "build.sbt")) or not os.path.isdir(os.path.join(root, "src", "main")):
        raise SystemExit(f"no engine sources (build.sbt, src/main) under {root}")
    out = build_dir(root)
    os.makedirs(out, exist_ok=True)
    jars = spark_jars(root)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars in {jars}")

    stamp_path = os.path.join(out, "build.stamp")
    stamp = open(stamp_path).read().split() if os.path.exists(stamp_path) else ["", ""]
    engine_hash = _hash(_engine_sources(root))
    harness_src = sorted(glob.glob(os.path.join(HERE, "harness", "src", "*.scala")))
    harness_hash = _hash(harness_src + [os.path.abspath(__file__)])
    classes = os.path.join(out, "harness-classes")

    if stamp[0] != engine_hash or engine_jar(root) is None:
        _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
             os.path.join(out, "sbt-package.log"), root, _sbt_env())
        stamp = [engine_hash, ""]
    jar = engine_jar(root)
    if jar is None:
        raise SystemExit("sbt package produced no jar under target/")
    cp = f"{os.path.join(jars, '*')}{os.pathsep}{jar}"
    if stamp[1] != harness_hash or not os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
        os.makedirs(classes)
        _run(["java", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-usejavacp", "-deprecation",
              "-d", classes] + harness_src, os.path.join(out, "scalac.log"), root)
        stamp[1] = harness_hash
    with open(stamp_path, "w") as f:
        f.write(" ".join(stamp))
    return f"{classes}{os.pathsep}{cp}", out


if __name__ == "__main__":
    print(build(os.getcwd())[0])
