"""Image decode + preprocessing kernel (the reference's M1-M4).

Reproduces /root/reference/appV2.py pixel semantics exactly:

* ``ensure_rgb``   — palette/L→RGB(A) conversion with a ``transparency``
                     info probe, RGBA composited onto a WHITE background
                     (appV2.py:20-27)
* ``pad_square``   — center-paste onto a white square of side max(w,h)
                     (appV2.py:29-36)
* ``tensorize``    — bicubic resize to 448×448, /255, HWC→CHW, RGB→BGR
                     channel flip, (x-0.5)/0.5 normalize (appV2.py:38-49).
                     The BGR flip (appV2.py:44) and the bicubic kernel
                     (appV2.py:41) are correctness-critical.

PIL does the decode/resize (reimplementations drift — SURVEY.md §7 watch
list #3); it is import-gated because the test container may not ship it.
``tensorize_array`` is the pure-NumPy tail of the kernel and is golden-
tested without PIL.

Execution shape: these functions run inside Arrow-batched ``mapInArrow``
(see pipeline.py) — per-executor, batch-at-a-time, never on the driver.
"""

from __future__ import annotations

import io

import numpy as np

try:  # PIL is optional in this container; the pipeline degrades gracefully
    from PIL import Image

    HAS_PIL = True
except ImportError:  # pragma: no cover
    Image = None
    HAS_PIL = False

TARGET_SIZE = (448, 448)  # appV2.py:38


def ensure_rgb(image):
    """appV2.py:20-27 — white-background alpha composite."""
    if image.mode not in ("RGB", "RGBA"):
        image = image.convert("RGBA") if "transparency" in image.info else image.convert("RGB")
    if image.mode == "RGBA":
        background = Image.new("RGB", image.size, (255, 255, 255))
        background.paste(image, mask=image.split()[3])
        image = background
    return image


def pad_square(image):
    """appV2.py:29-36 — center-paste onto a white square."""
    width, height = image.size
    if width == height:
        return image
    size = max(width, height)
    out = Image.new("RGB", (size, size), (255, 255, 255))
    out.paste(image, ((size - width) // 2, (size - height) // 2))
    return out


def tensorize_array(rgb_hwc_uint8: np.ndarray) -> np.ndarray:
    """appV2.py:42-48 — the pure-NumPy tail: /255, HWC→CHW, RGB→BGR flip,
    mean/std 0.5 normalize. Returns float32 CHW (no batch dim; batching is
    the scorer's concern, which is where the engine beats the reference's
    hard-coded batch=1)."""
    arr = rgb_hwc_uint8.astype(np.float32) / 255.0
    arr = arr.transpose(2, 0, 1)
    arr = arr[::-1, :, :]  # RGB -> BGR (appV2.py:44)
    mean = np.array([0.5, 0.5, 0.5], dtype=np.float32).reshape(3, 1, 1)
    std = np.array([0.5, 0.5, 0.5], dtype=np.float32).reshape(3, 1, 1)
    return ((arr - mean) / std).astype(np.float32)


def fake_decode_bytes(content: bytes, size: int = 64) -> np.ndarray:
    """DETERMINISTIC FAKE decode for containers without PIL: tiles the raw
    bytes into a (size×size×3) uint8 "image" and runs the real tensorize
    tail. Not a real image decode — it exists so the full pipeline
    (binary column → mapInArrow → tensor → scores → tags) is exercised
    end-to-end with reproducible values. Swap in ``preprocess_bytes`` when
    PIL is available; nothing else changes."""
    if len(content) < 4:
        # models a truncated/corrupt image; also: Spark's file partitioner
        # skips zero-length files entirely, so they never even reach here
        raise ValueError("truncated payload")
    raw = np.frombuffer(content, dtype=np.uint8)
    need = size * size * 3
    reps = -(-need // len(raw))  # ceil
    tiled = np.tile(raw, reps)[:need].reshape(size, size, 3)
    return tensorize_array(tiled)


def preprocess_bytes(content: bytes, target_size=TARGET_SIZE) -> np.ndarray:
    """M1-M4 end-to-end: bytes → float32 CHW tensor. Requires PIL."""
    if not HAS_PIL:  # pragma: no cover
        raise NotImplementedError(
            "image decode requires PIL, which is not installed in this "
            "container; the Spark-side plumbing (binary column → mapInArrow "
            "→ tensor column) is exercised with tensorize_array goldens"
        )
    image = Image.open(io.BytesIO(content))
    image = ensure_rgb(image)
    image = pad_square(image)
    image = image.resize(target_size, Image.BICUBIC)  # appV2.py:41
    return tensorize_array(np.asarray(image, dtype=np.uint8))
