"""Model-free vision-layer operators of the DeepDOC OCR stack.

The ONNX models themselves (DBNet detector, CRNN/SVTR recognizer, YOLOv10
layout, TSR) are runtime HuggingFace downloads even in the reference
(``deepdoc/parser/pdf_parser.py:88-93``); what IS deterministic logic —
and what this module re-implements natively — is the glue around them:

  * ``nms``                 detection-box suppression
                            (``deepdoc/vision/operators.py:702-725``)
  * ``sorted_boxes``        reading-order sort of detected quads with the
                            10px same-row bubble pass (``ocr.py:595-616``)
  * ``rec_batch_plan``      aspect-ratio-sorted recognition batching —
                            the batch grouping + per-batch max_wh_ratio of
                            ``ocr.py:351-378`` without the model call
  * ``rotate_crop``         perspective-free crop + tall-crop rotation
                            decision of ``get_rotate_crop_image``
                            (``ocr.py:561-593``) via pure-numpy inverse
                            bilinear warp (cv2 is absent here)

Inside the page UDF these run per Arrow batch; the model inference slot is
a pluggable callable (stubbed per the build contract — decode/infer raise
``NotImplementedError`` unless an ONNX session factory is injected).
"""

from __future__ import annotations

import numpy as np


def nms(bboxes: np.ndarray, scores: np.ndarray, iou_thresh: float) -> list:
    """Greedy IoU suppression, identical arithmetic to
    operators.py:702-725 (+1 pixel-inclusive widths)."""
    bboxes = np.asarray(bboxes, dtype=float).reshape(-1, 4)
    scores = np.asarray(scores, dtype=float)
    if bboxes.shape[0] == 0:
        return []
    x1, y1, x2, y2 = bboxes[:, 0], bboxes[:, 1], bboxes[:, 2], bboxes[:, 3]
    areas = (y2 - y1) * (x2 - x1)
    indices = []
    index = scores.argsort()[::-1]
    while index.size > 0:
        i = index[0]
        indices.append(int(i))
        x11 = np.maximum(x1[i], x1[index[1:]])
        y11 = np.maximum(y1[i], y1[index[1:]])
        x22 = np.minimum(x2[i], x2[index[1:]])
        y22 = np.minimum(y2[i], y2[index[1:]])
        w = np.maximum(0, x22 - x11 + 1)
        h = np.maximum(0, y22 - y11 + 1)
        overlaps = w * h
        ious = overlaps / (areas[i] + areas[index[1:]] - overlaps)
        idx = np.where(ious <= iou_thresh)[0]
        index = index[idx + 1]
    return indices


def sorted_boxes(dt_boxes: np.ndarray) -> list:
    """Top-to-bottom, left-to-right ordering of [N,4,2] quads with the
    reference's 10px same-row adjacent-swap pass (ocr.py:595-616)."""
    num_boxes = len(dt_boxes)
    _boxes = sorted(list(dt_boxes), key=lambda x: (x[0][1], x[0][0]))
    for i in range(num_boxes - 1):
        for j in range(i, -1, -1):
            if abs(_boxes[j + 1][0][1] - _boxes[j][0][1]) < 10 and \
                    (_boxes[j + 1][0][0] < _boxes[j][0][0]):
                _boxes[j], _boxes[j + 1] = _boxes[j + 1], _boxes[j]
            else:
                break
    return _boxes


def rec_batch_plan(shapes: list, batch_num: int = 16,
                   rec_image_shape=(3, 48, 320)) -> list:
    """Recognition batch plan (ocr.py:351-378 without the model call):
    crops sorted by aspect ratio, grouped into ``batch_num`` batches, each
    with its max width/height ratio (the dynamic input width).  ``shapes``:
    list of (h, w).  → list of (indices, max_wh_ratio) — results are
    written back to ORIGINAL positions via the indices, exactly like
    ``rec_res[indices[beg+rno]]``."""
    ratios = np.array([w / float(h) for h, w in shapes])
    indices = np.argsort(ratios)
    _, img_h, img_w = rec_image_shape
    plan = []
    for beg in range(0, len(shapes), batch_num):
        end = min(len(shapes), beg + batch_num)
        max_wh_ratio = img_w / img_h
        for ino in range(beg, end):
            h, w = shapes[indices[ino]]
            max_wh_ratio = max(max_wh_ratio, w * 1.0 / h)
        plan.append(([int(i) for i in indices[beg:end]], float(max_wh_ratio)))
    return plan


def rotate_crop(img: np.ndarray, points: np.ndarray) -> np.ndarray:
    """get_rotate_crop_image (ocr.py:561-593) without cv2: inverse
    bilinear warp of the quad onto the (w,h) rectangle, border-replicate,
    then the ≥1.5 tall-crop np.rot90 rule."""
    points = np.asarray(points, dtype=float)
    assert len(points) == 4, "shape of points must be 4*2"
    w = int(max(np.linalg.norm(points[0] - points[1]),
                np.linalg.norm(points[2] - points[3])))
    h = int(max(np.linalg.norm(points[0] - points[3]),
                np.linalg.norm(points[1] - points[2])))
    w, h = max(w, 1), max(h, 1)
    # bilinear interpolation of the quad edges: dst (x,y) ← src point
    # p(u,v) = (1-v)·((1-u)p0 + u·p1) + v·((1-u)p3 + u·p2)
    us = (np.arange(w) + 0.5) / w
    vs = (np.arange(h) + 0.5) / h
    top = (1 - us)[:, None] * points[0] + us[:, None] * points[1]    # [w,2]
    bot = (1 - us)[:, None] * points[3] + us[:, None] * points[2]
    src = ((1 - vs)[:, None, None] * top[None, :, :] +
           vs[:, None, None] * bot[None, :, :])                      # [h,w,2]
    sx = np.clip(np.round(src[..., 0]).astype(int), 0, img.shape[1] - 1)
    sy = np.clip(np.round(src[..., 1]).astype(int), 0, img.shape[0] - 1)
    dst = img[sy, sx]
    if dst.shape[0] * 1.0 / dst.shape[1] >= 1.5:
        dst = np.rot90(dst)
    return dst


class OnnxSlot:
    """The executor-side ONNX wiring contract, fully mechanized.

    One instance per model role (detector / recognizer / layout / TSR)
    is created DRIVER-side with a model path (or an env var name) and a
    session factory; the instance rides the UDF closure to executors,
    where the session is built LAZILY ONCE PER PYTHON WORKER PROCESS on
    first batch (onnxruntime sessions are not picklable and must never
    cross the Arrow boundary).  ``run`` feeds a NCHW float32 batch and
    returns the raw outputs; callers wrap it with the pre/post glue in
    this module (``nms``/``sorted_boxes``/``rec_batch_plan``/
    ``rotate_crop``).

    ``session_factory(path)`` defaults to
    ``onnxruntime.InferenceSession(path, providers=[CPU])`` and may be
    any object with the same ``run(None, {input_name: batch})`` /
    ``get_inputs()`` interface — the unit tests exercise the full slot
    lifecycle with a fake session, and a skipif-guarded test runs a real
    ``InferenceSession`` whenever onnxruntime is importable.  Exact
    deployment wiring: docs/PLANS.md §"ONNX model slots".
    """

    def __init__(self, model_path: str | None = None,
                 env_var: str | None = None, session_factory=None):
        self.model_path = model_path
        self.env_var = env_var
        self._factory = session_factory
        self._session = None          # per-process, never pickled

    def __getstate__(self):
        d = self.__dict__.copy()
        d["_session"] = None          # sessions must not cross processes
        return d

    def _resolve_path(self) -> str:
        import os
        path = self.model_path or (self.env_var and
                                   os.environ.get(self.env_var))
        if not path:
            raise NotImplementedError(
                "ONNX model asset not configured: pass model_path or set "
                f"{self.env_var or 'the model env var'} (external asset, "
                "runtime-downloaded in the reference)")
        return path

    def _default_factory(self, path: str):
        import onnxruntime  # deployment dependency, absent in sandbox
        return onnxruntime.InferenceSession(
            path, providers=["CPUExecutionProvider"])

    def session(self):
        if self._session is None:
            factory = self._factory or self._default_factory
            self._session = factory(self._resolve_path())
        return self._session

    def run(self, batch: np.ndarray):
        """NCHW float32 batch → list of output arrays."""
        sess = self.session()
        name = sess.get_inputs()[0].name
        return sess.run(None, {name: np.ascontiguousarray(
            batch, dtype=np.float32)})
