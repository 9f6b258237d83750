"""Formula/code enrichment kernels.

The reference's CodeFormula VLM (fork/formula/code_formula_model.py)
rewrites formula text to LaTeX and tags code blocks with a language
prefix ``<_lang_>``. The model is not available here; the deterministic
parts are ported:
  - code-language prefix extraction (:154-182, exact regex)
  - most-frequent-edge-color pad selection (:206-253) as a pure
    numpy function over an image array (used when real crops exist)
The enrichment stage itself is a batch-5 loop over formula/code elements
(gpu_processor.py:184-202) — wired as ``enrich_elements`` with the model
call stubbed to identity.
"""

from __future__ import annotations

import re
from typing import Any, Optional

from .model_harness import FixedBatcher, ModelSpec

_CODE_LANG_RE = re.compile(r"^<_([^_>]+)_>\s(.*)", flags=re.DOTALL)

ENRICH_BATCH_SIZE = 5  # code_formula_model.py:69

# Deterministic LaTeX-izer rule table — the stand-in for the CodeFormula
# VLM's formula rewrite (code_formula_model.py:282-326 sets
# item.text = model output; here the "model" is this ordered rewrite
# chain). Patterns AND replacements are the shared Python-re ∩ RE2
# subset (`\1` backrefs, `\\` literal backslash) so the DuckDB oracle
# replays the chain byte-for-byte. Order matters: sqrt before frac (its
# parens would break the frac token match), sup/sub before frac (frac
# braces would mask the ^/_ sites).
LATEX_RULES: list[tuple[str, str]] = [
    (r"\bsqrt\((\w+)\)", r"\\sqrt{\1}"),
    (r"\^(\w+)", r"^{\1}"),
    (r"\b([A-Za-z])_(\w+)", r"\1_{\2}"),
    (r"\b(\w+) */ *(\w+)\b", r"\\frac{\1}{\2}"),
    (r"\b(alpha|beta|gamma|delta|theta|lambda|mu|pi|sigma|phi|omega)\b",
     r"\\\1"),
    (r"\b(sin|cos|tan|log|exp|lim|sum|prod)\b", r"\\\1"),
    (r"<=", r"\\leq"),
    (r">=", r"\\geq"),
    (r"!=", r"\\neq"),
    (r"->", r"\\to"),
    (r"\binf\b", r"\\infty"),
]
_LATEX_COMPILED = [(re.compile(p), r) for p, r in LATEX_RULES]


def latexize_formula(text: str) -> str:
    """Formula text → LaTeX via the deterministic rule chain."""
    for rx, repl in _LATEX_COMPILED:
        text = rx.sub(repl, text)
    return text


def extract_code_language(text: str) -> tuple[str, Optional[str]]:
    """``<_lang_> body`` → (body, lang); otherwise (text, None)."""
    m = _CODE_LANG_RE.match(text)
    if m:
        return str(m.group(2)), str(m.group(1))
    return text, None


def most_frequent_edge_color(image) -> Any:
    """Mode of the border pixels — the pad color for formula crops
    (code_formula_model.py:206-253). ``image``: HxW or HxWxC uint8."""
    import numpy as np

    a = np.asarray(image)
    if a.ndim == 2:
        a = a[:, :, None]
    edges = np.concatenate(
        [a[0, :, :], a[-1, :, :], a[:, 0, :], a[:, -1, :]], axis=0
    )
    # per-channel mode via bincount argmax
    return tuple(int(np.bincount(edges[:, c], minlength=256).argmax())
                 for c in range(edges.shape[1]))


class SynthEnrichmentModel:
    """Executor-local singleton 'VLM'. A real CodeFormula model load
    replaces __init__; enrich_batch stays one batched generate() per
    <=ENRICH_BATCH_SIZE elements (the reference's batch-5 loop)."""

    def __init__(self) -> None:
        self.n_forward_calls = 0

    def enrich_batch(self, batch: list[dict[str, Any]]) -> list[dict[str, Any]]:
        self.n_forward_calls += 1
        for el in batch:
            if el["label"] == "code":
                body, lang = extract_code_language(el.get("text") or "")
                el["text"] = body
                if lang is not None:
                    el["code_language"] = lang
            elif el["label"] == "formula":
                # the reference's VLM rewrites formula text to LaTeX and
                # stores it back on the item (code_formula_model.py:326);
                # the deterministic rule chain is our model output
                el["text"] = latexize_formula(el.get("text") or "")
        return batch


_ENRICH_MODEL_SPEC = ModelSpec(
    name="synth-enrichment-vlm",
    loader=SynthEnrichmentModel,
    batch_size=ENRICH_BATCH_SIZE,
    pad_by_repeat=False,  # CPU stand-in; static-shape GPU model pads
)


def enrich_elements(
    elements: list[dict[str, Any]], stats: dict | None = None
) -> list[dict[str, Any]]:
    """Batched enrichment pass over code/formula elements through the
    model harness (executor-local singleton, fixed batch-5 chunks): parses
    the code-language prefix into ``code_language`` and rewrites formula
    text to LaTeX via the deterministic rule chain (the VLM stand-in).
    Mutates and returns the element list."""
    work = [e for e in elements if e.get("label") in ("code", "formula")]
    if work:
        batcher = FixedBatcher(_ENRICH_MODEL_SPEC, SynthEnrichmentModel.enrich_batch)
        batcher.run(work)
        if stats is not None:
            stats["n_forward_calls"] = batcher.n_forward_calls
    return elements
