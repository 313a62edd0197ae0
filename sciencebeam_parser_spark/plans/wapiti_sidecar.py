"""Wapiti-protocol sequence-labeling sidecar (VERDICT r6 #5, SURVEY A11).

Reference behavior (models/wapiti_model_impl.py:25-164): a PERSISTENT
``wapiti label --stream`` process per worker, communicated with over
stdin/stdout under a lock; each call is guarded by a 20 s watchdog timer
that KILLS the process on expiry (``on_wapiti_timeout`` → ``stop``), the
call raises, and a retry loop re-runs it (fresh process) up to 10
attempts before re-raising.

This module restates that contract Spark-side:

* ``WapitiSidecar`` owns one persistent subprocess per executor Python
  worker (held via ``utils.executor_singleton``), speaking the wapiti
  stream protocol: one ``token<TAB>feature...`` line per token, a blank
  line terminating each sequence; the process answers one
  ``token<TAB>label`` line per token plus a blank line per sequence.
* ``label_sequences`` is lock-guarded, watchdog-timed (threading.Timer →
  kill, exactly the reference shape), and retried with a fresh process
  up to ``trial_count`` attempts.
* Binary resolution follows the binprobe order: injected argv (tests) →
  PATH-probed real ``wapiti`` (``wapiti label --stream -m <model>``) →
  the DETERMINISTIC FAKE — a real ``python -c`` subprocess speaking the
  same protocol, so the sidecar path (spawn, write, read, timeout,
  restart) executes end-to-end even where wapiti is absent.  The fake's
  labeling rule is pure string algebra (all-digit token → B-num,
  length ≥ 6 → B-long, leading vowel → B-vowel, else I-other) so a SQL
  oracle can restate it exactly.

Protocol safety: the pipes are newline-framed text streams, so any
character the child's universal-newlines reader treats as a line
boundary (``\n``, ``\r``) — plus the field separator ``\t`` and NUL —
is normalized to a space BEFORE a token enters the stream
(``normalize_protocol_token``).  Labels are therefore computed on the
normalized token; callers keep their original token column.  Failures
are CLASSIFIED: watchdog timeouts and process death are transient and
retried with a fresh process (the reference's retry loop exists for
timeouts, models/wapiti_model_impl.py:76-109); a protocol desync from a
LIVE process (extra lines where a blank terminator was expected) is
deterministic — re-sending the same payload cannot succeed — and fails
fast as ``WapitiProtocolError`` instead of burning all 10 retries.

At scale: one sidecar per executor worker amortizes process startup
across all tasks on that worker. Each Arrow batch of documents (one row
per document, its tokens as an array) goes to the sidecar as one
``label_sequences`` call inside a partition-parallel ``mapInPandas``, and
only token/label columns move.
"""
from __future__ import annotations

import subprocess
import sys
import threading
from typing import List, Optional, Sequence

from sciencebeam_parser_spark.sources import binprobe

DEFAULT_TIMEOUT_S = 20.0  # reference: _wapiti_timeout = 20.0
DEFAULT_TRIAL_COUNT = 10  # reference: _wapiti_trial_count = 10

# The deterministic fake labeler: a REAL subprocess speaking the wapiti
# stream protocol. Rule (restatable in ANSI SQL / DuckDB):
#   all-digit token      -> B-num    (translate(tok, digits, '') = '')
#   length >= 6          -> B-long
#   leading vowel        -> B-vowel
#   anything else        -> I-other
FAKE_LABELER_SRC = r"""
import sys
for line in sys.stdin:
    line = line.rstrip("\n")
    if not line:
        sys.stdout.write("\n")
        sys.stdout.flush()
        continue
    tok = line.split("\t", 1)[0]
    stripped = tok.translate({ord(d): None for d in "0123456789"})
    if tok and stripped == "":
        label = "B-num"
    elif len(tok) >= 6:
        label = "B-long"
    elif tok and tok[0] in "aeiou":
        label = "B-vowel"
    else:
        label = "I-other"
    sys.stdout.write(tok + "\t" + label + "\n")
    sys.stdout.flush()
"""


def fake_labeler_argv() -> List[str]:
    return [sys.executable, "-u", "-c", FAKE_LABELER_SRC]


def resolve_sidecar_argv(
    model_path: Optional[str] = None,
    argv: Optional[List[str]] = None,
) -> List[str]:
    """binprobe resolution order: injected argv → real wapiti → fake."""
    if argv is not None:
        return argv
    exe = binprobe.which("wapiti")
    if exe and model_path:
        # reference invocation shape: persistent stream labeler
        return [exe, "label", "--stream", "-m", model_path]
    return fake_labeler_argv()


class WapitiSidecarTimeout(TimeoutError):
    """Watchdog killed the process mid-call — transient, retryable."""


class WapitiProtocolError(RuntimeError):
    """The LIVE process broke the line protocol (extra output lines).

    Deterministic for a given payload — retrying re-sends the same
    poisonous input — so the retry loop re-raises this immediately
    instead of spawning ``trial_count`` doomed processes.
    """


# Characters a newline-framed text protocol cannot carry inside a token:
# the line boundaries the child's universal-newlines stdin reader honors
# (\n, \r — and \r\n via both), the \t field separator, and NUL (C
# string safety for a real wapiti binary).
_PROTOCOL_BREAKERS = str.maketrans({"\t": " ", "\n": " ", "\r": " ", "\x00": " "})


def normalize_protocol_token(tok: str) -> str:
    """Make a token safe to ship as one line-protocol field."""
    return tok.translate(_PROTOCOL_BREAKERS) or "_"


class WapitiSidecar:
    """Persistent stdin/stdout labeling process with watchdog + retry."""

    def __init__(
        self,
        argv: Optional[List[str]] = None,
        model_path: Optional[str] = None,
        timeout_s: float = DEFAULT_TIMEOUT_S,
        trial_count: int = DEFAULT_TRIAL_COUNT,
    ):
        self.argv = resolve_sidecar_argv(model_path=model_path, argv=argv)
        self.timeout_s = timeout_s
        self.trial_count = trial_count
        self._proc: Optional[subprocess.Popen] = None
        self._lock = threading.Lock()
        self.timeout_counter = 0  # reference: _wapiti_timeout_counter
        self.restart_counter = 0

    # -- process lifecycle (reference stop()/lazy restart) -----------------

    def _ensure_process(self) -> subprocess.Popen:
        if self._proc is None or self._proc.poll() is not None:
            self._proc = subprocess.Popen(
                self.argv,
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL,
                text=True,
                bufsize=1,
            )
            self.restart_counter += 1
        return self._proc

    def stop(self) -> None:
        proc = self._proc
        if proc is None:
            return
        self._proc = None
        proc.kill()

    def _on_timeout(self) -> None:
        # reference on_wapiti_timeout: count, kill — the blocked reader
        # then fails fast on the closed pipe and the caller raises
        self.timeout_counter += 1
        self.stop()

    # -- the stream protocol -------------------------------------------------

    def _label_once(
        self, sequences: Sequence[Sequence[str]]
    ) -> List[List[str]]:
        proc = self._ensure_process()
        prev_timeouts = self.timeout_counter
        timer = threading.Timer(self.timeout_s, self._on_timeout)
        timer.start()
        lines: List[str] = []
        for seq in sequences:
            for tok in seq:
                # protocol hazard: \n, \r (universal-newlines line
                # boundaries), \t (field separator) or NUL inside a
                # token would desync the line protocol — normalize away
                lines.append(normalize_protocol_token(tok))
            lines.append("")
        payload = "\n".join(lines) + "\n"

        def _pump() -> None:
            try:
                proc.stdin.write(payload)
                proc.stdin.flush()
            except Exception:
                pass  # reader side surfaces the failure

        # writer thread: reading interleaves with writing, so a batch
        # larger than the OS pipe buffer can never deadlock the pair
        writer = threading.Thread(target=_pump, daemon=True)
        writer.start()
        try:
            out: List[List[str]] = []
            for seq in sequences:
                labels: List[str] = []
                for _ in seq:
                    line = proc.stdout.readline()
                    if line == "":
                        raise BrokenPipeError("sidecar died mid-sequence")
                    labels.append(line.rstrip("\n").split("\t")[-1])
                blank = proc.stdout.readline()
                if blank.strip():
                    # extra line from a LIVE process = deterministic
                    # protocol violation (a dead process shows up as
                    # the EOF BrokenPipeError above instead)
                    raise WapitiProtocolError(
                        "sidecar protocol desync: expected blank line, "
                        "got %r" % blank[:80]
                    )
                out.append(labels)
        except Exception as exc:
            self.stop()  # never reuse a desynced pipe
            if self.timeout_counter != prev_timeouts:
                # the watchdog kill is what broke the read — classify
                # as the retryable timeout, not a protocol failure
                raise WapitiSidecarTimeout(
                    "wapiti watchdog fired after %.1fs" % self.timeout_s
                ) from exc
            raise
        finally:
            timer.cancel()
            writer.join(timeout=1.0)
        if self.timeout_counter != prev_timeouts:
            raise WapitiSidecarTimeout(
                "wapiti timeout received during processing"
            )
        return out

    def label_sequences(
        self, sequences: Sequence[Sequence[str]]
    ) -> List[List[str]]:
        """Label token sequences; watchdog + retry, reference semantics."""
        if not sequences:
            return []
        with self._lock:
            attempt = 0
            while True:
                try:
                    return self._label_once(sequences)
                except WapitiProtocolError:
                    # deterministic desync: the same payload fails the
                    # same way every time — fail fast (reference retry
                    # semantics cover TIMEOUTS,
                    # models/wapiti_model_impl.py:76-109)
                    raise
                except Exception:
                    attempt += 1
                    if attempt >= self.trial_count:
                        raise
