"""Model scoring kernel (the reference's M5-M6).

The reference runs ONNX inference one image at a time with a session built
once on the single process (appV2.py:146-158, batch pinned to 1 at
appV2.py:48). The Spark mapping fixes both limitations:

* **per-executor lazy session** — ONNX sessions are not picklable, so the
  session is built once per Python worker process on first batch
  (module-level cache) from a model path shipped to executors;
* **real batching** — tensors are scored ``batch_size`` at a time inside an
  Arrow-batched ``mapInArrow`` stage (``pipeline.score_images``), which
  then selects each image's tags from the score matrix in the same stage.

onnxruntime is import-gated (not in this container); ``StubScorer`` is the
deterministic stand-in used by tests and the demo pipeline: logits are exact
linear projections of the input tensor against a fixed ±1 LCG weight bank,
so results are reproducible everywhere.

``sigmoid_clip_np`` is the NumPy twin of operators.tagging.sigmoid_clip
(appV2.py:174) for use inside the kernel.
"""

from __future__ import annotations

import numpy as np

try:
    import onnxruntime as ort

    HAS_ORT = True
except ImportError:  # pragma: no cover
    ort = None
    HAS_ORT = False

_SESSION_CACHE: dict[str, object] = {}


def sigmoid_clip_np(logits: np.ndarray) -> np.ndarray:
    """appV2.py:174 verbatim: 1/(1+exp(-clip(x, -30, 30)))."""
    return 1.0 / (1.0 + np.exp(-np.clip(logits, -30.0, 30.0)))


class StubScorer:
    """Deterministic linear scorer: logits = P @ flat(tensor-pool).

    The tensor is mean-pooled to 3×8×8 (192 dims), then projected by a fixed
    ±1 matrix generated from an LCG — deterministic across processes, no
    model file needed. Used wherever onnxruntime/the real weights are
    unavailable (README.md:10-12: weights are an external download).
    """

    POOL = 8

    def __init__(self, num_tags: int = 64, seed: int = 987654321):
        dim = 3 * self.POOL * self.POOL
        state = seed
        rows = []
        for _ in range(num_tags):
            row = []
            for _ in range(dim):
                state = (1103515245 * state + 12345) % (2**31)
                row.append(1.0 if (state >> 16) & 1 else -1.0)
            rows.append(row)
        self.weights = np.array(rows, dtype=np.float32)
        self.num_tags = num_tags

    def _pool(self, chw: np.ndarray) -> np.ndarray:
        c, h, w = chw.shape
        ph, pw = h // self.POOL, w // self.POOL
        pooled = chw[:, : ph * self.POOL, : pw * self.POOL]
        pooled = pooled.reshape(c, self.POOL, ph, self.POOL, pw).mean(axis=(2, 4))
        return pooled.reshape(-1)

    def score_batch(self, tensors: np.ndarray) -> np.ndarray:
        """[N, 3, H, W] float32 → [N, num_tags] float32 logits."""
        feats = np.stack([self._pool(t) for t in tensors])
        return feats @ self.weights.T


class OnnxScorer:
    """Real ONNX scorer with per-executor lazy session (M5, appV2.py:146-158).

    Provider list mirrors the reference's priority-with-fallback pattern but
    defaults to CPU (DirectML is Windows-only, appV2.py:148).
    """

    def __init__(self, model_path: str, providers: list[str] | None = None):
        if not HAS_ORT:  # pragma: no cover
            raise NotImplementedError(
                "onnxruntime is not installed in this container; use "
                "StubScorer (deterministic) for tests and demos"
            )
        self.model_path = model_path
        self.providers = providers or ["CPUExecutionProvider"]

    def _session(self):  # pragma: no cover - needs onnxruntime
        key = self.model_path
        if key not in _SESSION_CACHE:
            _SESSION_CACHE[key] = ort.InferenceSession(
                self.model_path, providers=self.providers
            )
        return _SESSION_CACHE[key]

    def score_batch(self, tensors: np.ndarray) -> np.ndarray:  # pragma: no cover
        session = self._session()
        input_name = session.get_inputs()[0].name
        output_name = session.get_outputs()[0].name
        return session.run([output_name], {input_name: tensors})[0]
