package graft.raster

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.stream.MemoryCacheImageOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Terrarium-RGB raster tiles as PNG (lossless) / JPEG (lossy, PSNR≥40dB
  * invariant) images, using only the JDK's javax.imageio (zero-egress
  * environment — no external codec jars).
  *
  * Image convention matches standard terrain-RGB map tiles: pixel row 0 is the
  * **north** edge, i.e. image (px, py) holds logical grid (row = size-1-py,
  * col = px) — the same row flip the raw HGT layout uses
  * (reference src/elevation/getElevation.ts:56-58).
  */
object ImageCodec {

  private def toImage(elevs: Array[Double], size: Int): BufferedImage = {
    val img = new BufferedImage(size, size, BufferedImage.TYPE_INT_RGB)
    var py = 0
    while (py < size) {
      val row = size - 1 - py
      var px = 0
      while (px < size) {
        img.setRGB(px, py, Terrarium.rgb(elevs(row * size + px)))
        px += 1
      }
      py += 1
    }
    img
  }

  private def toImage(samples: Array[Short], size: Int): BufferedImage =
    toImage(samples.map(_.toDouble), size)

  /** Logical south-first grid → lossless Terrarium PNG bytes. */
  def encodePng(samples: Array[Short], size: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(toImage(samples, size), "png", out)
    out.toByteArray
  }

  /** Fractional elevations → lossless Terrarium PNG (pyramid sub-tiles
    * carry bilinear values whose fraction lives in the B channel).
    */
  def encodeTerrariumPng(elevs: Array[Double], size: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(toImage(elevs, size), "png", out)
    out.toByteArray
  }

  /** Logical south-first grid → lossy Terrarium JPEG bytes at given quality. */
  def encodeJpg(samples: Array[Short], size: Int, quality: Float = 1.0f): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val out = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(out)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(toImage(samples, size), null, null), param)
    writer.dispose()
    ios.close()
    out.toByteArray
  }

  /** Decode a Terrarium PNG/JPEG image to elevations as a logical south-first
    * double grid (lossy formats yield approximate values).
    */
  def decodeToElevations(imageBytes: Array[Byte]): (Array[Double], Int) = {
    val img = ImageIO.read(new ByteArrayInputStream(imageBytes))
    require(img != null, "undecodable image bytes")
    val size = img.getWidth
    require(img.getHeight == size, s"non-square tile ${img.getWidth}x${img.getHeight}")
    val out = new Array[Double](size * size)
    var py = 0
    while (py < size) {
      val row = size - 1 - py
      var px = 0
      while (px < size) {
        val rgb = img.getRGB(px, py)
        out(row * size + px) =
          Terrarium.decode((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
        px += 1
      }
      py += 1
    }
    (out, size)
  }

  /** Decode to the nearest int16 grid (exact for lossless PNG round-trips). */
  def decodeToGrid(imageBytes: Array[Byte]): (Array[Short], Int) = {
    val (elevs, size) = decodeToElevations(imageBytes)
    val out = new Array[Short](elevs.length)
    var i = 0
    while (i < elevs.length) {
      out(i) = math.floor(elevs(i) + 0.5).toInt.toShort
      i += 1
    }
    (out, size)
  }
}
