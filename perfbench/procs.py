"""Child processes of a benchmark run: each JVM-owning worker runs in its
own session so the run can measure its memory and end all of it."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time


def spawn(args: list[str], env: dict, log_path: str, stdout=subprocess.DEVNULL):
    """Start ``python3 args...`` as the leader of a new process group."""
    with open(log_path, "ab") as log:
        return subprocess.Popen(
            [sys.executable, *args], env=env, stdout=stdout, stderr=log,
            start_new_session=True,
        )


def group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state, ppid, pgrp, ...; a zombie has already ended
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def group_peak_rss_mb(pgid: int) -> float:
    """Sum over the group's live processes of their peak resident set."""
    total_kb = 0
    for pid in group_pids(pgid):
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_group(proc: subprocess.Popen, timeout: float = 60.0) -> None:
    """SIGTERM the group, wait for the leader and every member to end,
    SIGKILL whatever outlives the timeout."""
    deadline = time.monotonic() + timeout
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    try:
        proc.wait(timeout=max(0.1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    while group_pids(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)
    if group_pids(proc.pid) or proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        while group_pids(proc.pid):
            time.sleep(0.05)
