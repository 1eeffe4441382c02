"""Pipeline configuration (explicit, serializable, test-friendly)."""

from __future__ import annotations

from dataclasses import dataclass

from ocr_spark.constants import REF_YEAR


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs for the extraction pipeline.

    - ``recognizer_backend``: "fake" (deterministic sandbox) | "paddle"
      (production, import-gated).
    - ``ref_year``: pinned evaluation year replacing the reference's
      ``datetime.now()`` calls (main.py:583, 651, 1122).
    - ``media_time_budget_s``: per-image wall-clock budget *inside* the UDF;
      overruns quarantine the span instead of killing anything — the
      distributed analogue of the reference's per-request process kill
      (main.py:1211-1256, OCR_TIMEOUT_SECONDS=30 main.py:123).
    - ``strip_html``: the boilerplate-strip stage for text spans; turn off
      for the raw-passthrough profile.
    """

    recognizer_backend: str = "fake"
    ref_year: int = REF_YEAR
    media_time_budget_s: float = 30.0
    strip_html: bool = True
    # Fixed sha256 iterations per image for the fake backend (scaling
    # benchmarks emulate real inference cost with it; ~2000 ≈ 1 ms);
    # 0 = plain payload decode.
    fake_work_iters: int = 0
    # Preprocessing stage (north_rule mandates deskew+binarize; the
    # reference-equivalence profile disables both like main.py:171-173).
    preproc_backend: str = "fake"
    deskew: bool = True
    binarize: bool = True
    # Hard per-image isolation: run inference in a killable child process
    # (the reference's mp.Process+terminate semantics, main.py:1233-1247).
    # The default soft budget quarantines overruns only after recognize()
    # RETURNS; it cannot preempt a hung native call — enable this when the
    # backend can genuinely hang, at the cost of one model copy + IPC.
    hard_kill: bool = False
    # Monster-document ceiling: the splice builds ONE in-memory array per
    # document (collect_list), so a pathological 100k-span document is an
    # executor-OOM hazard no partition sizing can absorb.  Documents whose
    # input span count exceeds this are QUARANTINED inside the explode
    # (pipeline.explode_spans marks them, single scan — error row, empty
    # spans_out, same contract as timeout/decode_error) before any
    # per-span or OCR work is spent on them; the rest of the batch
    # commits normally.  None disables the guard.
    max_spans_per_doc: int | None = 50_000
