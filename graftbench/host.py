"""Host stamp of a benchmark run, and the JVM settings the driver needs."""
import os
import subprocess

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# engine's build.sbt).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """(busy, steal) jiffies summed over all CPUs since boot, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:3]) + sum(v[5:7]), v[7]
    except (OSError, ValueError, IndexError):
        return None


def other_jvms():
    """Command lines of running java processes other than this run's."""
    own = os.getpid()
    out = []
    for pid in os.listdir("/proc") if os.path.isdir("/proc") else []:
        if not pid.isdigit() or int(pid) == own:
            continue
        try:
            with open("/proc/%s/cmdline" % pid, "rb") as f:
                argv = f.read().split(b"\0")
            with open("/proc/%s/stat" % pid) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if argv and os.path.basename(argv[0].decode(errors="replace")) == "java" \
                and ppid != own:
            out.append("pid=%s %s" % (pid, b" ".join(argv)[:160].decode(errors="replace")))
    return out


def git_commit(root):
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def java_version():
    try:
        r = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                           text=True, timeout=30)
        return r.stderr.strip().splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        return None


def stamp(root=None):
    s = {"nproc": nproc(), "loadavg": loadavg(), "cpu_ticks": cpu_ticks(),
         "other_jvms": other_jvms()}
    if root:
        s.update(git_commit=git_commit(root), java=java_version())
    return s
